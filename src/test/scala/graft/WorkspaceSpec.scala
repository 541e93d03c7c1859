package graft

import java.io.File

import org.apache.spark.sql.graft.Workspace

/** A query run the way Bench, Verify and [[QuerySurface]] run it, inside
  * [[Workspace.scoped]], leaves nothing behind: no entry under
  * `java.io.tmpdir` (q_sql_ddl_insert lands a lake table there) and no
  * persisted RDD (q_bm25 local-checkpoints its term frequencies). */
class WorkspaceSpec extends SparkSpec {

  private def tmpEntries(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.toSet)

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  Seq("q_sql_ddl_insert", "q_bm25").foreach { q =>
    test(s"$q in a scope leaves no temp entry and no persisted RDD") {
      val run = SparkEntry.queries(q)
      // once unscoped first: native libraries the JVM extracts to the
      // temp dir on first use are not the query's to clean up
      run(spark, sf).collect()
      val (entries, rdds) = (tmpEntries(), persisted())
      val rows = Workspace.scoped(spark)(run(spark, sf).collect())
      assert(rows.nonEmpty)
      assert(tmpEntries() -- entries == Set.empty, "left under java.io.tmpdir")
      assert(persisted() == rdds, "persistent RDDs left behind")
    }
  }

  test("a dir made on another thread survives the scope") {
    var mine, other = ""
    Workspace.scoped(spark) {
      mine = Workspace.dir("ws-mine")
      val t = new Thread(() => other = Workspace.dir("ws-other"))
      t.start(); t.join()
    }
    assert(!new File(mine).exists())
    assert(new File(other).isDirectory)
  }
}
