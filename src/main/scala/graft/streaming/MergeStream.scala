package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.sinks.VersionedTable

/** Streaming CDC apply into a [[VersionedTable]] — the changelog twin of
  * [[VersionedStream]]: instead of appending micro-batches, each batch is
  * a set of keyed changes (`op` = `"u"` upsert / `"d"` delete) MERGED into
  * the table as one copy-on-write commit
  * ([[VersionedTable.mergeChanges]]). What that buys at 100 TB:
  *
  * - **bounded write amplification**: a batch touching 0.1% of keys
  *   rewrites only the files containing them (stats-pruned + membership
  *   -confirmed), never the table;
  * - **exactly-once under replay**: the `queryName:batchId` transaction id
  *   rides in the manifest ([[VersionedTable.mergeChanges]]), so a batch
  *   redelivered after a crash between merge and checkpoint commit
  *   returns the already-committed version instead of re-merging;
  * - **in-batch ordering**: a real changelog can carry several changes for
  *   one key in one batch; [[foldChanges]] keeps the LAST per key by a
  *   caller-named order column (same last-change-wins contract as
  *   [[graft.analytics.Cdc]]) before the merge's unique-key gate.
  *
  * Mid-stream maintenance stays safe: a concurrent compaction and a merge
  * conflict loudly (ConcurrentModificationException), never silently —
  * schedule maintenance between batches or retry the batch. */
object MergeStream {

  /** Last change per key by `orderCol` (ties broken by op, deletes last —
    * deterministic when a source stamps equal order values). One bounded
    * window over the BATCH, not the table. */
  def foldChanges(changes: DataFrame, key: String, orderCol: String,
                  opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(orderCol).desc, col(opCol).asc)
    changes.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === 1).drop("__rank", orderCol)
  }

  /** Apply one folded micro-batch exactly once; returns the version. */
  def applyBatch(batch: DataFrame, dir: String, key: String,
                 queryName: String, batchId: Long,
                 opCol: String = "op"): Int =
    VersionedTable.mergeChanges(batch.sparkSession, dir, batch, key,
      opCol, txnId = Some(s"$queryName:$batchId"))

  /** foreachBatch writer: folds each batch to last-change-per-key, then
    * merges it. Caller `.start()`s. */
  def writer(stream: DataFrame, dir: String, key: String, orderCol: String,
             queryName: String, checkpoint: String,
             opCol: String = "op"): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(foldChanges(batch, key, orderCol, opCol), dir, key,
          queryName, batchId, opCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
}
