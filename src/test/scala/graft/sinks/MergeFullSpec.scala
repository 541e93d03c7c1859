package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sql.GraftCatalog

/** Full-clause MERGE: ordered conditional WHEN MATCHED UPDATE/DELETE,
  * conditional NOT MATCHED INSERT, NOT MATCHED BY SOURCE — engine
  * semantics (first-satisfied-clause-wins) plus the SQL routing. */
class MergeFullSpec extends SparkSpec {
  import spark.implicits._

  private val ops = VersionedTable

  private def register(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  test("engine mergeInto: conditional matched update/delete, conditional " +
    "insert, first-satisfied-clause-wins ordering") {
    val dir = tmpDir("mf-engine")
    ops.commit(spark.range(0, 10)
      .select(col("id"), (col("id") * 10.0).as("v")), dir)
    val src = spark.range(5, 15)
      .select(col("id"), (col("id") * 100.0).as("v"))
    val v = ops.mergeInto(spark, dir, src, "id", "id",
      matched = Seq(
        MergeClause(Some(col("__s_v") > 700.0),
          MergeUpdate(Map("v" -> col("__s_v")))),
        MergeClause(None, MergeDelete)),
      notMatched = Seq(
        MergeClause(Some(col("__s_id") % 2 === 0),
          MergeInsert(Map("id" -> col("__s_id"), "v" -> col("__s_v"))))))
    assert(v == 2)
    val got = ops.read(spark, dir).as[(Long, Double)].collect().toMap
    // ids 0-4: target-only, carried; 5-7 matched with s.v <= 700 -> deleted;
    // 8,9 matched s.v > 700 -> updated; 10-14 source-only, even ids insert
    assert((0L to 4L).forall(i => got(i) == i * 10.0))
    assert(!(5L to 7L).exists(got.contains))
    assert(got(8L) == 800.0 && got(9L) == 900.0)
    assert(got(10L) == 1000.0 && got(12L) == 1200.0 && got(14L) == 1400.0)
    assert(!got.contains(11L) && !got.contains(13L))
    assert(got.size == 10)
  }

  test("engine mergeInto: NOT MATCHED BY SOURCE update + delete quantify " +
    "over target-only rows") {
    val dir = tmpDir("mf-bysrc")
    ops.commit(spark.range(0, 8)
      .select(col("id"), lit(1.0).as("v")), dir)
    val src = spark.range(0, 4).select(col("id"), lit(9.0).as("v"))
    ops.mergeInto(spark, dir, src, "id", "id",
      matched = Seq(MergeClause(None,
        MergeUpdate(Map("v" -> col("__s_v"))))),
      notMatched = Seq.empty,
      notMatchedBySource = Seq(
        MergeClause(Some(col("__t_id") >= 6), MergeDelete),
        MergeClause(None, MergeUpdate(Map("v" -> lit(-1.0))))))
    val got = ops.read(spark, dir).as[(Long, Double)].collect().toMap
    assert((0L to 3L).forall(got(_) == 9.0))
    assert(got(4L) == -1.0 && got(5L) == -1.0)
    assert(!got.contains(6L) && !got.contains(7L))
  }

  test("without BY-SOURCE clauses the merge is file-scoped: untouched " +
    "files survive byte-identical") {
    val dir = tmpDir("mf-scoped")
    // two clustered landings give key-disjoint files with stats
    ops.commitClustered(spark.range(0, 100)
      .select(col("id"), col("id").as("v")), dir,
      zCols = Seq("id"), statCols = Seq("id"), numFiles = 4)
    val before = ops.filesMeta(spark, dir)
      .select("file").as[String].collect().toSet
    // all source keys live in the low range -> high-range files untouched
    val src = spark.range(0, 5).select(col("id"), (col("id") + 1000).as("v"))
    ops.mergeInto(spark, dir, src, "id", "id",
      matched = Seq(MergeClause(None,
        MergeUpdate(Map("v" -> col("__s_v"))))),
      notMatched = Seq.empty)
    val after = ops.filesMeta(spark, dir)
      .select("file").as[String].collect().toSet
    assert((before & after).nonEmpty,
      "a key-scoped merge rewrote every file — file scoping lost")
    val got = ops.read(spark, dir).as[(Long, Long)].collect().toMap
    assert((0L to 4L).forall(i => got(i) == i + 1000))
    assert((5L until 100L).forall(i => got(i) == i))
  }

  test("SQL MERGE routes the full clause set; partial INSERT fills NULL; " +
    "subquery conditions fall through loudly") {
    register()
    val dir = tmpDir("mf-sql")
    ops.commit(spark.range(0, 10)
      .select(col("id"), (col("id") * 10.0).as("v"), lit("old").as("tag")),
      dir)
    spark.range(5, 15)
      .select(col("id"), (col("id") * 100.0).as("v"))
      .createOrReplaceTempView("mf_sql_src")
    spark.sql(s"MERGE INTO graft.`$dir` t USING mf_sql_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND s.v > 700.0 THEN UPDATE SET v = s.v " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED AND s.id % 2 = 0 THEN INSERT (id, v) VALUES (s.id, s.v) " +
      "WHEN NOT MATCHED BY SOURCE AND t.id = 0 THEN UPDATE SET tag = 'kept'")
    val got = spark.sql(s"SELECT id, v, tag FROM graft.`$dir`")
      .as[(Long, Double, String)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(0L) == ((0.0, "kept")))
    assert((1L to 4L).forall(i => got(i) == ((i * 10.0, "old"))))
    assert(!(5L to 7L).exists(got.contains))
    assert(got(8L) == ((800.0, "old")) && got(9L) == ((900.0, "old")))
    // partial INSERT: unassigned 'tag' is NULL
    assert(got(10L)._1 == 1000.0 && got(10L)._2 == null)
    assert(!got.contains(11L))
    // a subquery-bearing condition has no sound engine mapping -> loud
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$dir` t USING mf_sql_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED AND s.v > (SELECT AVG(v) FROM mf_sql_src) " +
        "THEN UPDATE SET v = s.v")
    }
    assert(e != null)
  }

  test("source duplicate keys refuse (many-to-one ambiguity)") {
    val dir = tmpDir("mf-dup")
    ops.commit(spark.range(0, 5).select(col("id"), col("id").as("v")), dir)
    val dup = spark.range(0, 2).select(col("id"), col("id").as("v"))
      .unionAll(spark.range(0, 1).select(col("id"), col("id").as("v")))
    // the key-only merges refuse with the identical message
    val messages = Seq[() => Int](
      () => ops.mergeInto(spark, dir, dup, "id", "id",
        matched = Seq(MergeClause(None,
          MergeUpdate(Map("v" -> col("__s_v"))))),
        notMatched = Seq.empty),
      () => ops.merge(spark, dir, dup, "id"),
      () => ops.mergeChanges(spark, dir, dup.withColumn("op", lit("u")), "id")
    ).map(m => intercept[IllegalArgumentException](m()).getMessage)
    assert(messages.head.contains("duplicate"))
    assert(messages.distinct.size == 1, messages)
  }
}
