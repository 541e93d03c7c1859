package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

import graft.analytics.Parity
import graft.sources.Tables

/** Hash-bucketed table layout — the landed answer to repeated fact⋈fact
  * joins at 100 TB. A shuffle join on `orderkey` moves BOTH fact tables
  * across the wire on every query; writing each side `bucketBy(n, key)`
  * moves them ONCE at landing time, after which every equi-join (and
  * groupBy) on the key is exchange-free: Spark's scan reports
  * `HashPartitioning(key, n)` and the sort-merge join consumes the buckets
  * co-located. `sortBy(key)` inside each bucket additionally lets a
  * single-file-per-bucket scan skip the sort. This is the batch twin of
  * [[Layout]]'s z-order (which optimizes range SCANS; bucketing optimizes
  * equi-JOINS) and the layout a daily-ingest pipeline writes once and
  * queries thousands of times. The reference has no layout surface at all
  * (MySQL default heap table, /root/reference/airflow/dags/weather_etl.py:67).
  */
object Bucketing {

  /** Land `df` as a bucketed, per-bucket-sorted parquet table (external at
    * `dir`). `saveAsTable` is required — bucket metadata lives in the
    * catalog, plain `.save()` silently drops it. */
  def writeBucketed(df: DataFrame, table: String, dir: String,
                    bucketCol: String, nBuckets: Int): Unit =
    df.write.format("parquet").option("path", dir)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .mode(SaveMode.Overwrite).saveAsTable(table)

  // ---- driver query ----

  /** q_bucket_join — lands lineitem and orders bucketed by orderkey (8
    * buckets each), then joins them bucket-to-bucket: the merge-hinted join
    * consumes the two bucketed scans with ZERO Exchange (spec-asserted) —
    * the plan shape that turns an every-query shuffle of the two biggest
    * tables into a once-at-landing cost. The oracle runs the same
    * join+rollup on the ORIGINAL parquet, so a hash match proves the
    * bucketed rewrite is row-preserving end-to-end. Unique table/dir names
    * per invocation: concurrent suites must not race on the catalog. */
  def qBucketJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val dir = Workspace.dir("graft_bucket_")
    val lTbl = s"graft_bkt_lineitem_$tag"
    val oTbl = s"graft_bkt_orders_$tag"
    writeBucketed(Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity")),
      lTbl, s"$dir/lineitem", "l_orderkey", nBuckets = 8)
    writeBucketed(Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
      oTbl, s"$dir/orders", "o_orderkey", nBuckets = 8)
    bucketJoinPlan(spark, lTbl, oTbl)
  }

  /** The exchange-free join: merge hint keeps the small-SF side from
    * broadcasting (a broadcast would ALSO be exchange-free but wouldn't
    * exercise the co-located path this layout exists for at fact⋈fact
    * scale). */
  private[graft] def bucketJoinPlan(spark: SparkSession, lTbl: String,
                                    oTbl: String): DataFrame =
    spark.table(lTbl).hint("merge")
      .join(spark.table(oTbl).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        round(Parity.decSum2(col("l_extendedprice")), 2).as("sum_price"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("yr"), col("priority"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bucket_join" -> (qBucketJoin _))

  val oracles: Map[String, String] = Map(
    "q_bucket_join" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |  o_orderpriority AS priority,
        |  COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2
        |ORDER BY yr, priority""".stripMargin)
}
