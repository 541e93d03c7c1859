package wxbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.core.WeatherDdl
import graft.pipeline.WeatherEtlJob
import graft.sources.RestWeatherSource

/** The reference pipeline at fleet scale: each round re-runs the DDL,
  * fetches every station through `RestWeatherSource.loadMany` and lands
  * the batch with `WeatherEtlJob.runBatch` (transform, in-batch dedup,
  * date-pruned anti-join, parquet append). The table grows every round,
  * so per-round overhead and the growing existing-side scan both show. */
final class IngestFanout extends Workload {
  private var fleet: StationFleet = _
  private[wxbench] var table: String = _
  /** Every (city, dt) key landed so far, packed by `StationFleet.key`. */
  val model = mutable.LongMap[Unit]()
  private var nextRound = 0
  private var fetched = 0L
  private var appended = 0L
  private val base = RestWeatherSource.Config("-", "fr", "metric", "bench")

  def nominalRoundS: Double = 1.7

  def setup(ctx: Ctx, rep: Int): Unit = {
    fleet = StationFleet(ctx.seed, if (ctx.tiny) 300 else 5000)
    table = s"${ctx.root}/ingest/weather_$rep"
    model.clear()
    nextRound = 0
    WeatherDdl.ensureTable(ctx.spark, Some(table))
    // the first scheduled run lands on an empty table: part of set-up
    firstLanded = land(ctx, nextRound)
    fleet.keys(nextRound).foreach(model(_) = ())
    nextRound += 1
  }

  private var firstLanded = 0L

  override def checkSetup(ctx: Ctx, rep: Int): Unit =
    ctx.checks(s"ingest set-up $rep lands every first-round key") {
      firstLanded == model.size.toLong
    }

  private def land(ctx: Ctx, r: Int): Long = {
    val list = fleet.fetchList(r)
    val raw = ctx.rec.span("sources.load_many") {
      RestWeatherSource.loadMany(ctx.spark, list, base, fleet.fetcher(r),
        parallelism = ctx.spark.sparkContext.defaultParallelism)
    }
    val n = ctx.rec.span("pipeline.run_batch") {
      WeatherEtlJob.runBatch(ctx.spark, raw, table)
    }
    fetched += list.size
    n
  }

  def round(ctx: Ctx, r: Int): Unit = {
    if (r == 0) { fetched = 0L; appended = 0L }
    val k = nextRound
    nextRound += 1
    val landed = ctx.rec.op("ingest", r) {
      ctx.rec.span("core.ddl")(WeatherDdl.ensureTable(ctx.spark, Some(table)))
      land(ctx, k)
    }
    var expected = 0
    fleet.keys(k).foreach { kk =>
      if (!model.contains(kk)) { expected += 1; model(kk) = () }
    }
    ctx.checks(s"ingest round $k appends exactly its new keys") {
      landed.contains(expected.toLong)
    }
    appended += landed.getOrElse(0L)
  }

  private var files = 0
  private var bytes = 0L

  def finish(ctx: Ctx): Map[String, Double] = {
    val t = ctx.spark.read.parquet(table)
    ctx.checks("ingest: at most one row per (city, utc)") {
      t.groupBy("city", "utc").count().filter(col("count") > 1).isEmpty
    }
    ctx.checks("ingest: final row count equals distinct generated keys") {
      t.count() == model.size.toLong
    }
    val (b, n) = Workload.dirBytes(table, Workload.isDataFile)
    files = n
    bytes = b
    val secs = ctx.rec.ops.filter(_.kind == "ingest").map(_.seconds).sum
    Map(
      "ingest.files_in_table" -> n.toDouble,
      "ingest.rows_per_s" -> (if (secs == 0) 0.0 else fetched / secs),
      "ingest.useful_ratio" -> (if (fetched == 0) 0.0 else appended.toDouble / fetched))
  }

  override def storedBytesPerRow: Double =
    Workload.dirBytes(table)._1.toDouble / math.max(1, model.size)

  override def artifact: Map[String, Any] = Map(
    "stations" -> fleet.stations, "docs_fetched" -> fetched,
    "rows_appended" -> appended, "rows_in_table" -> model.size,
    "data_files" -> files, "data_bytes" -> bytes)
}
