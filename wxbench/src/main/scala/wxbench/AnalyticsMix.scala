package wxbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Nine registered queries over generated star-schema tables, run in a
  * seeded order each pass: aggregate, semi-join and window queries, a
  * bloom-filter join (`operators`), a heavy-hitters aggregate
  * (`functions`), a shuffle-bound dedup, a ranking query, an LSH
  * similarity search (`ext` over the vector UDFs of `functions`) and the
  * weather transform. No lake commit and no ingest
  * append, so it is the bypass workload for both. The timed action
  * collects the result (at most a few thousand rows), so checking it
  * against the first pass costs no second execution. */
final class AnalyticsMix extends Workload {
  import AnalyticsMix._

  private var sfDir: String = _
  private val fns = SparkEntry.queries.filter { case (k, _) => Queries.contains(k) }
  private val baseline = mutable.LinkedHashMap[String, (String, StructType, Array[Row])]()
  private val fnSeconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val actionSeconds = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def nominalRoundS: Double = NominalPassS
  override def minRounds: Int = 2

  def setup(ctx: Ctx, rep: Int): Unit = {
    sfDir = s"${ctx.root}/sf_$rep"
    SfTables.write(ctx.spark, sfDir, Scale, ctx.seed)
  }

  def model: AnyRef = baseline

  /** One untimed pass: warms the JIT and Spark's code caches, and
    * records each query's result as the baseline later passes must
    * reproduce. */
  override def warmup(ctx: Ctx): Unit =
    Queries.foreach { q =>
      ctx.checks(s"$q runs in the warm-up pass") {
        val df = fns(q)(ctx.spark, sfDir)
        val rows = df.collect()
        baseline(q) = (hash(df.schema, rows), df.schema, rows)
        true
      }
      ctx.rec.clearCaches(count = false)
    }

  def round(ctx: Ctx, r: Int): Unit = {
    val order = new scala.util.Random(ctx.seed * 31 + r).shuffle(Queries)
    order.foreach { q =>
      var fnS = 0.0
      val out = ctx.rec.op(q, r) {
        val t0 = System.nanoTime()
        val df = ctx.rec.span("query.fn")(fns(q)(ctx.spark, sfDir))
        fnS = (System.nanoTime() - t0) / 1e9
        (df.schema, ctx.rec.span("query.action")(df.collect()))
      }
      ctx.rec.ops.lastOption.filter(_.ok).foreach { o =>
        fnSeconds.getOrElseUpdate(q, mutable.ArrayBuffer()) += fnS
        actionSeconds.getOrElseUpdate(q, mutable.ArrayBuffer()) += o.seconds - fnS
      }
      ctx.checks(s"$q pass $r: result hash equals the first pass") {
        out.exists { case (schema, rows) =>
          baseline.get(q).exists(_._1 == hash(schema, rows))
        }
      }
    }
  }

  /** Lands each query's baseline rows, the oracle side inputs and the
    * oracle SQL under `<root>/oracle`, for the DuckDB replay that runs
    * after the JVM exits (the run script replays whatever it finds
    * there). */
  def finish(ctx: Ctx): Map[String, Double] = {
    val out = s"${ctx.root}/oracle"
    val side = s"${out}_side"
    val spark = ctx.spark
    baseline.foreach { case (q, (_, schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      SparkEntry.sideInputs.get(q).foreach(_(spark, sfDir, s"$side/$q"))
    }
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }
      .map { case (k, v) =>
        k -> v.replace("{OUT_DIR}/_side", side).replace("{OUT_DIR}", out) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json(sql))
    def med(m: mutable.Map[String, mutable.ArrayBuffer[Double]], q: String) =
      m.get(q).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
    Queries.flatMap { q =>
      Seq(s"query.${q}_fn_s" -> med(fnSeconds, q),
        s"query.${q}_action_s" -> med(actionSeconds, q))
    }.toMap
  }

  override def artifact: Map[String, Any] = Map(
    "scale_factor" -> Scale, "tables_dir" -> sfDir,
    "result_hashes" -> baseline.map { case (q, (h, _, rows)) =>
      q -> Map("hash" -> h, "rows" -> rows.length) })
}

object AnalyticsMix {
  /** At least one query through each of the `analytics`, `ext`,
    * `functions`, `operators` and `pipeline` paths, each with a DuckDB
    * oracle. `q1_agg` and `q5_join` are left out: their oracles round a
    * DOUBLE sum of 4-decimal products, which disagrees with the engine's
    * rounding on a half-cent tie (seed 35 lands one), so some seeds
    * fail them; `q_rollup` and `q_semi_join` take their place.
    * `q_pagerank` (33 jobs) and `q_sim_ivfpq` (44 jobs) are left out to
    * keep a run within the benchmark's time budget. */
  val Queries: Seq[String] = Seq("q_rollup", "q_semi_join", "q_window_funcs",
    "q_bloom_join", "q_heavy_hitters", "q_dedup_ngram", "q_bm25",
    "q_sim_ann", "q_weather_transform")

  /** Scale factor of the generated tables. Pass time is set by job
    * count more than by data, so the smallest scale keeps a run short
    * without changing which code paths a pass takes. */
  val Scale = 0.001

  /** Wall time of one warm pass on four cores. */
  val NominalPassS = 8.0

  /** Order-insensitive hash of a result: columns sorted by name, floats
    * at six decimals, rows sorted. */
  def hash(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def cell(v: Any): String = v match {
      case null => "None"
      case d: Double => f"$d%.6f"
      case f: Float => f"${f.toDouble}%.6f"
      case other => other.toString
    }
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
