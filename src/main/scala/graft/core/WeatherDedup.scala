package graft.core

import java.io.FileNotFoundException

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** O13 — the reference's idempotent insert (check-then-insert at
  * weather_etl.py:156–187) re-expressed as set semantics.
  *
  * The reference's guarantee: after any number of replays, the landed table
  * has at most one row per (city, utc) (:158–168, skip at :186–187). Its
  * mechanism is racy (no transaction spans the SELECT at :158 and the INSERT
  * at :170); ours is a single atomic batch append of `new ∖ existing`.
  *
  * Scale: the existing side is read as its two key columns only, a small
  * build side the anti-join broadcasts, so the landed table is never
  * shuffled. The flat layout anti-joins those key columns directly: a date
  * IN list over a string cast of `utc` is not a filter parquet can push
  * down, so on a flat directory it would prune no IO. Date pruning lives in
  * the partitioned layout ([[graft.sinks.LandedTable]]), where the batch's
  * dates select whole `utc_date` partitions.
  * [[graft.streaming.WeatherStream]] is the bounded-state streaming variant.
  */
object WeatherDedup {

  /** Drop in-batch duplicates, keeping an explicit deterministic winner per
    * key: the row with the greatest payload in column order (row_number over
    * a total order on the non-key columns). `dropDuplicates` would keep
    * whichever row came first in physical order, which can differ across
    * retries/repartitioning when rows share (city, utc) but differ in
    * payload — this pick is stable under any physical order. Same single
    * shuffle on the key as dropDuplicates; the added intra-partition sort is
    * noise at micro-batch sizes (1 row / 2 min in the reference). */
  def dedupWithinBatch(batch: DataFrame): DataFrame = {
    val payload = batch.columns.filterNot(WeatherSchema.key.contains)
    if (payload.isEmpty) batch.dropDuplicates(WeatherSchema.key)
    else {
      val w = Window.partitionBy(WeatherSchema.key.map(col): _*)
        .orderBy(payload.map(c => col(c).desc_nulls_last): _*)
      batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** `batch ∖ existing` on the logical key — left_anti join, the exact
    * semantics of the reference's COUNT(*)==0 gate (weather_etl.py:158–168).
    * For a left_anti hash join Spark builds (and may broadcast) the right
    * side, so the existing side should be only the key columns — see
    * [[appendImpl]]. */
  def newRowsOnly(batch: DataFrame, existing: DataFrame): DataFrame =
    batch.join(existing.select(WeatherSchema.key.map(col): _*),
      WeatherSchema.key, "left_anti")

  /** Idempotent append to a parquet table path (flat layout). Returns rows
    * actually appended.
    *
    * Scale shape: the existing side is read as key columns only, with the
    * batch's own key schema (no footer-inference job), and anti-joined as
    * is. The batch is evaluated once — the fetch behind it runs once per
    * landing. */
  def idempotentAppend(spark: SparkSession, batch: DataFrame,
                       tablePath: String): Long =
    appendImpl(spark, dedupWithinBatch(batch), tablePath,
      partitionCol = None)

  /** Shared core for the flat ([[idempotentAppend]]) and partitioned
    * ([[graft.sinks.LandedTable]]) layouts. `batch` is already
    * in-batch-deduped; when `partitionCol` is set the batch must carry that
    * date column, the existing-side read prunes to the batch's dates through
    * it, and the write partitions by it. Either way the batch is evaluated
    * exactly once: the partitioned date list comes from a cache the
    * anti-join then reads. */
  private[graft] def appendImpl(spark: SparkSession, rawBatch: DataFrame,
                                tablePath: String,
                                partitionCol: Option[String]): Long = {
    // A NULL logical key can never satisfy the at-most-one-row-per-(city,
    // utc) invariant: the anti-join never matches NULLs, so such a row
    // would re-append on every replay. Drop them — the reference itself
    // could never land one (its transform crashes first, weather_etl.py:125).
    val batch = rawBatch.filter(
      WeatherSchema.key.map(col(_).isNotNull).reduce(_ && _))
    val cached = ArrayBuffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      val fresh =
        if (!tableExists(spark, tablePath)) batch
        else {
          val keyCols = WeatherSchema.key ++ partitionCol
          val existing = spark.read
            .schema(StructType(keyCols.map(batch.schema(_))))
            .parquet(tablePath)
          partitionCol match {
            case None => newRowsOnly(batch, existing)
            case Some(c) =>
              // Bounded driver-side collect: micro-batches span few distinct
              // dates, and a non-null utc gives a non-null date.
              val staged = cache(batch)
              val dates = staged.select(c).distinct().collect().map(_.getDate(0))
              newRowsOnly(staged, existing.filter(col(c).isin(dates: _*)))
          }
        }
      // One shot: count+write from a cached plan so the append is consistent
      // with the reported count even if the source is re-evaluated.
      val materialized = cache(fresh)
      val n = materialized.count()
      if (n > 0) {
        val w = materialized.write.mode(SaveMode.Append)
        partitionCol.fold(w)(c => w.partitionBy(c)).parquet(tablePath)
      }
      n
    } finally cached.reverseIterator.foreach(_.unpersist())
  }

  /** True when `path` holds at least one entry that is not Spark or Hadoop
    * bookkeeping: a directory with only `_SUCCESS`, a crashed write's
    * `_temporary` or `.crc` files holds no table yet. */
  private[graft] def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    } catch { case _: FileNotFoundException => false }
  }
}
