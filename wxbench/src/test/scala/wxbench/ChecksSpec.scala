package wxbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Each output check must accept a correct run and reject a corrupted one. */
class ChecksSpec extends AnyFunSuite {
  Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", Files.createTempDirectory("wxb-wh").toString)
    .getOrCreate()

  private def ctx(): Ctx = {
    spark.sparkContext.setLogLevel("ERROR")
    Ctx(spark, Files.createTempDirectory("wxb").toString, seed = 7,
      tiny = true, new Recorder(spark, traced = false), new Checks)
  }

  /** Sets up, runs two rounds, applies `corrupt`, and returns the checks
    * the final state failed. */
  private def run[W <: Workload](w: W)(corrupt: (Ctx, W) => Unit): Seq[String] = {
    val c = ctx()
    w.setup(c, 0)
    w.checkSetup(c, 0)
    w.round(c, 0)
    w.round(c, 1)
    val before = c.checks.failed
    corrupt(c, w)
    w.finish(c)
    assert(before == 0, c.checks.failures)
    c.checks.failures.toSeq
  }

  test("ingest checks pass on a correct run") {
    assert(run(new IngestFanout)((_, _) => ()).isEmpty)
  }

  test("ingest checks reject an injected duplicate (city, utc) row") {
    val failed = run(new IngestFanout) { (c, w) =>
      c.spark.read.parquet(w.table).limit(1)
        .write.mode("append").parquet(w.table)
    }
    assert(failed.exists(_.contains("at most one row per (city, utc)")), failed)
  }

  test("ingest checks reject a round that appends other than its new keys") {
    val c = ctx()
    val w = new IngestFanout
    w.setup(c, 0)
    // replaying round 0's documents as if they were a later round's
    // makes the model expect keys the table already holds
    c.spark.read.parquet(w.table).limit(3)
      .write.mode("overwrite").parquet(s"${c.root}/keep")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(w.table))
    c.spark.read.parquet(s"${c.root}/keep").write.parquet(w.table)
    w.round(c, 0)
    assert(c.checks.failures.exists(_.contains("appends exactly its new keys")),
      c.checks.failures)
  }

  test("lake checks pass on a correct run") {
    assert(run(new LakeMixed)((_, _) => ()).isEmpty)
  }

  test("lake checks reject a row missing from the model") {
    val failed = run(new LakeMixed) { (_, w) =>
      w.model.remove(Seq(w.model.keys.next()))
    }
    Seq("row count", "key set", "sum(value)", "fastCount").foreach { k =>
      assert(failed.exists(_.contains(k)), failed)
    }
  }

  test("lake checks reject a changed value") {
    val failed = run(new LakeMixed) { (_, w) =>
      val e = w.model.rows.next()
      w.model.put(Seq(e.copy(cents = e.cents + 1)))
    }
    assert(failed.exists(_.contains("sum(value)")), failed)
    assert(!failed.exists(_.contains("key set")), failed)
  }

  test("the result hash ignores row order and rejects a changed value") {
    val schema = new StructType().add("b", "double").add("a", "string")
    val rows = Array(Row(1.0, "x"), Row(2.5, "y"))
    val h = AnalyticsMix.hash(schema, rows)
    assert(AnalyticsMix.hash(schema, rows.reverse) == h)
    assert(AnalyticsMix.hash(schema, Array(Row(1.0, "x"), Row(2.6, "y"))) != h)
  }
}
