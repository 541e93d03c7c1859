package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Profile, SparkSpec}
import graft.Profile.Job
import graft.sql.GraftCatalog

object LakeJobCountSpec {
  /** A [[TableIO]] decorator that counts calls by method name. */
  final class CountingTableIO(inner: TableIO) extends TableIO {
    private val n = scala.collection.mutable.Map.empty[String, Long]
    def counts: Map[String, Long] = n.synchronized(n.toMap)
    private def hit[T](m: String)(f: => T): T = {
      n.synchronized(n(m) = n.getOrElse(m, 0L) + 1)
      f
    }
    override def mkdirs(dir: String): Unit = hit("mkdirs")(inner.mkdirs(dir))
    override def exists(path: String): Boolean =
      hit("exists")(inner.exists(path))
    override def list(dir: String): Seq[String] = hit("list")(inner.list(dir))
    override def readLines(path: String): Seq[String] =
      hit("readLines")(inner.readLines(path))
    override def writeLines(path: String, lines: Seq[String]): Unit =
      hit("writeLines")(inner.writeLines(path, lines))
    override def createExclusive(path: String, lines: Seq[String]): Boolean =
      hit("createExclusive")(inner.createExclusive(path, lines))
    override def delete(path: String): Unit = hit("delete")(inner.delete(path))
    override def size(path: String): Long = hit("size")(inner.size(path))
    override def isDir(path: String): Boolean = hit("isDir")(inner.isDir(path))
    override def mtime(path: String): Long = hit("mtime")(inner.mtime(path))
  }
}

/** Spark jobs per lake operation on a committed, undeclared table: the
  * `#schema=` manifest header pins every engine read, so no operation
  * samples a footer to learn the table's schema (a one-task Spark job per
  * inference), and the per-operation job counts stay pinned. */
class LakeJobCountSpec extends SparkSpec {
  import LakeJobCountSpec.CountingTableIO

  /** What one lake op did: its Spark jobs and its `TableIO` calls by
    * method. */
  private final case class Op(jobs: Seq[Job], io: Map[String, Long])

  private val vt = VersionedTable

  private def jobsOf(body: => Unit): Seq[Job] =
    Profile.recording(spark)(body)._2.jobs

  /** A schema inference: the job was started by a reader resolving its
    * schema (`DataFrameReader.parquet` without a schema, or a file table's
    * `schema`), not by an action or a write. */
  private def infers(j: Job): Boolean =
    j.entry.contains("DataFrameReader") || j.entry.contains("FileTable")

  private def rows(lo: Long, n: Long,
      session: SparkSession = spark): DataFrame =
    session.range(lo, lo + n).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 60).as("ts"),
      (col("id") % 5).cast("string").as("event_type"),
      (col("id") * 0.5).as("value"))

  private def describe(js: Seq[Job]): String =
    js.map(j => s"${j.name} [${j.entry}]").mkString("; ")

  /** One round of the lake mix on a committed table — append, merge, SQL
    * group-by, pruned lookup, SQL delete — with the jobs and `TableIO`
    * calls of each op. The counting backend is installed on the process
    * singleton (the SQL catalog binds it) for the whole round and the
    * previous one restored after. `before` runs ahead of every op,
    * outside the measured window. The round runs in `session`. */
  private def round(before: String => Unit,
      session: SparkSession = spark): Seq[(String, Op)] = {
    session.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val prev = vt.backend
    val io = new CountingTableIO(prev)
    vt.setBackend(io)
    try measuredRound(io, before, session)
    finally vt.setBackend(prev)
  }

  private def measuredRound(io: CountingTableIO, before: String => Unit,
      session: SparkSession): Seq[(String, Op)] = {
    val dir = tmpDir("lake-jobs")
    vt.commit(rows(0, 2000, session), dir)
    vt.commit(rows(2000, 500, session), dir)
    def op(name: String)(body: => Unit): (String, Op) = {
      before(dir)
      val c0 = io.counts
      val js = jobsOf(body)
      val c1 = io.counts
      name -> Op(js, c1.map { case (m, c) => m -> (c - c0.getOrElse(m, 0L)) }
        .filter(_._2 > 0))
    }
    val out = Seq(
      op("append") { vt.commit(rows(2500, 100, session), dir); () },
      op("merge") {
        val ups = rows(2550, 40, session).withColumn("value", col("value") + 1)
        val dels = rows(100, 10, session)
        vt.mergeChanges(session, dir, ups.withColumn("op", lit("u"))
          .unionByName(dels.withColumn("op", lit("d"))), "event_id")
        ()
      },
      op("scan") {
        session.sql(s"SELECT event_type, count(*) AS n, sum(value) AS s " +
          s"FROM graft.`$dir` GROUP BY event_type").collect()
        ()
      },
      op("lookup") {
        vt.prunedRead(session, dir, "event_id", 1234L, 1234L)
          .filter(col("event_id") === 1234L).collect()
        ()
      },
      op("delete") {
        session.sql(
          s"DELETE FROM graft.`$dir` WHERE event_id BETWEEN 500 AND 519")
        ()
      })
    assert(vt.read(session, dir).count() == 2600 - 10 - 20)
    out
  }

  test("one lake round runs no schema-inference job") {
    val ops = round(_ => ()).map { case (op, o) => op -> o.jobs }.toMap
    ops.foreach { case (op, js) =>
      assert(!js.exists(infers), s"$op: ${describe(js)}")
    }
    assert(ops("append").size == 1, describe(ops("append")))
    assert(ops("merge").size <= 11, describe(ops("merge")))
    assert(ops("scan").size <= 2, describe(ops("scan")))
    assert(ops("lookup").size <= 1, describe(ops("lookup")))
    assert(ops("delete").size <= 2, describe(ops("delete")))
  }

  test("one lake round's TableIO calls per op and method stay pinned") {
    // the lake's metadata IO is a protocol property: a refactor that adds
    // a manifest read, a listing or a stat to any op shows up here. A
    // fresh session carries no optimizer rules or conf other suites of
    // this JVM installed (the mview rewrite, for one, reads table
    // properties on every plan), so the pin does not depend on them.
    val io = round(_ => (), spark.newSession())
      .map { case (op, o) => op -> o.io }.toMap
    val pinned = Map(
      "append" -> Map("createExclusive" -> 1L, "writeLines" -> 3L,
        "readLines" -> 3L, "mkdirs" -> 3L, "exists" -> 4L, "list" -> 10L),
      "merge" -> Map("createExclusive" -> 1L, "writeLines" -> 7L,
        "readLines" -> 9L, "mkdirs" -> 7L, "exists" -> 5L, "list" -> 8L),
      "scan" -> Map("readLines" -> 2L, "list" -> 6L),
      "lookup" -> Map("readLines" -> 2L, "exists" -> 1L, "list" -> 2L),
      "delete" -> Map("createExclusive" -> 1L, "writeLines" -> 1L,
        "readLines" -> 7L, "mkdirs" -> 1L, "exists" -> 3L, "list" -> 14L))
    assert(io == pinned, "TableIO calls by op and method")
  }

  test("readChanges reads pinned to the header; a stripped table infers") {
    val dir = tmpDir("lake-changes")
    vt.commit(rows(0, 2000), dir)
    val from = vt.versions(dir).last
    vt.commit(rows(2000, 100), dir)
    def changes(): Seq[Job] = jobsOf {
      assert(vt.readChanges(spark, dir, from, from + 1).count() == 100)
    }
    val pinned = changes()
    assert(!pinned.exists(infers), describe(pinned))
    SchemaHeaderSpec.strip(dir)
    val stripped = changes()
    assert(stripped.exists(infers), describe(stripped))
  }

  test("a table written without headers still infers, op by op") {
    // the fallback path, and proof the detector above sees inference jobs
    val ops = round(SchemaHeaderSpec.strip).map { case (op, o) =>
      op -> o.jobs }.toMap
    val inferring = ops.map { case (op, js) => op -> js.count(infers) }
    assert(inferring("append") == 0, describe(ops("append")))
    Seq("merge", "scan", "lookup", "delete").foreach { op =>
      assert(inferring(op) > 0, s"$op: ${describe(ops(op))}")
    }
  }
}
