package graft.sinks

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftCatalog

object SchemaHeaderSpec {
  /** Remove every `#schema=` line from `dir`'s manifests: the table as a
    * build without the header would have written it. */
  def strip(dir: String): Unit =
    Files.list(Paths.get(dir, "manifests")).iterator().asScala
      .filter(p => p.getFileName.toString.matches("v\\d+"))
      .foreach { p: Path =>
        val kept = Files.readAllLines(p).asScala
          .filterNot(_.startsWith("#schema="))
        Files.write(p, kept.asJava)
      }
}

/** The `#schema=` manifest header: every landing path records the
  * physical schema of the snapshot's files, and a read pinned to it
  * serves exactly what footer inference would — same schema, same rows.
  * Tables written without the header (simulated by stripping it) keep
  * reading, merging and deleting through the inference fallback with the
  * same results. */
class SchemaHeaderSpec extends SparkSpec {
  import SchemaHeaderSpec.strip

  private val vt = VersionedTable

  /** Ids [lo, lo + n): a non-nullable key, a string, a double, a
    * timestamp and a struct holding an array — the footers record
    * non-nullable fields the header must relax. */
  private def rows(lo: Long, n: Long, tag: String = "r"): DataFrame =
    spark.range(lo, lo + n).select(
      col("id"),
      concat(lit(tag), col("id").cast("string")).as("name"),
      (col("id") * 1.5).as("value"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      struct((col("id") % 7).as("k"),
        array(col("id"), col("id") + 1).as("xs")).as("nest"))

  private def changes(ups: DataFrame, dels: DataFrame): DataFrame =
    ups.withColumn("op", lit("u")).unionByName(dels.withColumn("op", lit("d")))

  private def headOf(dir: String): Int = vt.versions(dir).last

  private def header(dir: String, v: Int): Option[String] =
    vt.manifestLines(dir, v).find(_.startsWith("#schema="))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A copy of `dir`'s manifest log with every `#schema=` line removed —
    * the table as a build without the header would have written it. Data,
    * delete and segment paths in the log are absolute, so the copy reads
    * the original's files. */
  private def strippedCopy(dir: String): String = {
    val to = tmpDir("schema-stripped")
    val src = Paths.get(dir, "manifests")
    Files.walk(src).iterator().asScala.toSeq.foreach { p =>
      val q = Paths.get(to, "manifests").resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }
    strip(to)
    to
  }

  /** The head carries a header, the pinned read's schema equals what
    * inference over the head's files serves (through the Scala read and
    * through the SQL catalog), and its rows equal the inference path's. */
  private def assertEquivalent(dir: String, what: String): Unit = {
    val v = headOf(dir)
    assert(header(dir, v).isDefined, s"$what: no #schema= header at v$v")
    val served = vt.read(spark, dir)
    val inferred = spark.read.parquet(vt.filesOf(dir, v): _*).schema
    assert(served.schema == inferred, s"$what: ${served.schema} vs $inferred")
    val legacy = strippedCopy(dir)
    assert(sorted(served) == sorted(vt.read(spark, legacy)), what)
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    assert(spark.table(s"graft.`$dir`").schema ==
      spark.table(s"graft.`$legacy`").schema, what)
  }

  test("every landing path publishes a header that reads like inference") {
    val dir = tmpDir("schema-paths")
    vt.commit(rows(0, 40), dir)
    assertEquivalent(dir, "first commit")
    vt.commit(rows(40, 20), dir)
    assertEquivalent(dir, "append")
    vt.deleteWhere(spark, dir, col("id") < 5)
    assertEquivalent(dir, "deleteWhere")
    vt.updateWhere(spark, dir, col("id") === 10,
      Map("name" -> upper(col("name"))))
    assertEquivalent(dir, "updateWhere")
    vt.mergeChanges(spark, dir,
      changes(rows(55, 10, "m"), rows(20, 3)), "id")
    assertEquivalent(dir, "mergeChanges")
    val src = rows(30, 5, "s")
    vt.mergeInto(spark, dir, src, "id", "id",
      matched = Seq(MergeClause(None, MergeUpdate(Map(
        "name" -> col("__s_name"))))),
      notMatched = Seq.empty)
    assertEquivalent(dir, "mergeInto")
    vt.deleteByKeys(spark, dir, "id", rows(41, 2).select("id"))
    assertEquivalent(dir, "deleteByKeys")
    vt.compact(spark, dir, targetBytes = 1L << 30)
    assertEquivalent(dir, "compact")
    vt.commitClustered(rows(100, 30), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 2)
    assertEquivalent(dir, "commitClustered")
    vt.optimizeZorder(spark, dir, Seq("id"), numFiles = 2)
    assertEquivalent(dir, "optimizeZorder")
    vt.rollback(dir, 2)
    assertEquivalent(dir, "rollback")
    vt.commit(rows(0, 25, "o"), dir, append = false)
    assertEquivalent(dir, "overwrite")
  }

  test("auto-compaction, branches and promote keep the header") {
    val dir = tmpDir("schema-maint")
    vt.commit(rows(0, 10), dir)
    vt.setTableProperty(dir, "compact.auto.files", "3")
    (1 to 4).foreach(i => vt.commit(rows(i * 10L, 10), dir))
    assertEquivalent(dir, "auto-compaction")

    vt.createBranch(dir, "b")
    val bd = vt.branchDir(dir, "b")
    assertEquivalent(bd, "branch fork")
    vt.commit(rows(200, 10), bd)
    vt.fastForward(spark, dir, "b")
    assertEquivalent(dir, "fast-forward")

    val staging = tmpDir("schema-staging")
    vt.commit(rows(300, 10), staging)
    vt.promote(spark, staging, dir)
    assertEquivalent(dir, "promote (append)")
    val replaced = tmpDir("schema-replace")
    vt.commit(rows(300, 10), staging)
    vt.promote(spark, staging, replaced, append = false)
    assertEquivalent(replaced, "promote (replace)")
  }

  test("a batch of another schema publishes no header and reads as before") {
    val dir = tmpDir("schema-evolve")
    vt.commit(rows(0, 10), dir)
    vt.commit(rows(10, 10).withColumn("extra", lit("x")), dir)
    val v = headOf(dir)
    assert(header(dir, v).isEmpty)
    val files = vt.filesOf(dir, v)
    assert(vt.read(spark, dir).schema == spark.read.parquet(files: _*).schema)
    assert(sorted(vt.read(spark, dir)) ==
      sorted(spark.read.parquet(files: _*)))
    // no header comes back while an older file may differ
    vt.commit(rows(20, 10), dir)
    assert(header(dir, headOf(dir)).isEmpty)

    val retyped = tmpDir("schema-retype")
    vt.commit(rows(0, 10), retyped)
    vt.commit(rows(10, 10).withColumn("value", col("value").cast("float")),
      retyped)
    assert(header(retyped, headOf(retyped)).isEmpty)
    assert(vt.read(spark, retyped).schema ==
      spark.read.parquet(vt.filesOf(retyped, headOf(retyped)): _*).schema)
  }

  test("time travel reads each version under its own header") {
    val dir = tmpDir("schema-travel")
    val v1 = vt.commit(rows(0, 10), dir)
    val v2 = vt.commit(rows(0, 10).select("id", "name"), dir, append = false)
    assert(header(dir, v1) != header(dir, v2))
    for (v <- Seq(v1, v2)) {
      val read = vt.read(spark, dir, Some(v))
      assert(header(dir, v).isDefined)
      assert(read.schema ==
        spark.read.parquet(vt.filesOf(dir, v): _*).schema, s"v$v")
    }
    assert(vt.read(spark, dir, Some(v1)).columns.contains("nest"))
    assert(vt.read(spark, dir, Some(v2)).columns.toSeq == Seq("id", "name"))
  }

  test("a declared schema keeps precedence over the header") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val dir = tmpDir("schema-declared")
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, name STRING)")
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (note STRING)")
    val hdr = header(dir, headOf(dir))
    assert(hdr.isDefined && !hdr.get.contains("note"))
    assert(vt.read(spark, dir).schema == vt.declPhysOf(dir).get)
    assert(spark.table(s"graft.`$dir`").columns.toSeq ==
      Seq("id", "name", "note"))
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` WHERE note IS NULL")
      .head().getLong(0) == 2L)
  }

  test("a table without headers merges, groups and deletes like one with") {
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    val withHdr = tmpDir("schema-compat")
    vt.commit(rows(0, 60), withHdr)
    vt.commit(rows(60, 40), withHdr)
    val legacy = strippedCopy(withHdr)
    assert(vt.versions(legacy).forall(v => header(legacy, v).isEmpty))
    assert(sorted(vt.read(spark, legacy)) == sorted(vt.read(spark, withHdr)))

    val ch = changes(rows(90, 20, "m"), rows(10, 5))
    vt.mergeChanges(spark, withHdr, ch, "id")
    vt.mergeChanges(spark, legacy, ch, "id")
    assert(sorted(vt.read(spark, legacy)) == sorted(vt.read(spark, withHdr)))

    strip(legacy)
    def grouped(d: String) = sorted(spark.sql(
      s"SELECT nest.k AS k, count(*) AS n, sum(value) AS s " +
        s"FROM graft.`$d` GROUP BY nest.k"))
    assert(grouped(legacy) == grouped(withHdr))

    strip(legacy)
    for (d <- Seq(withHdr, legacy))
      spark.sql(s"DELETE FROM graft.`$d` WHERE id BETWEEN 30 AND 44")
    assert(header(legacy, headOf(legacy)).isEmpty)
    assert(sorted(vt.read(spark, legacy)) == sorted(vt.read(spark, withHdr)))
    assert(vt.fastCount(spark, legacy) == vt.fastCount(spark, withHdr))
  }
}
