package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.ext.{DedupOps, TextAnalysis}

/** Streaming twin of the curation funnel ([[graft.ext.Curation]]): documents
  * arrive as a file stream (the continuous-crawl ingestion shape) and each
  * micro-batch is quality-filtered, decontaminated against a static eval
  * set, and appended — so the landed corpus only ever contains survivors.
  *
  * The work happens in `foreachBatch`, where the micro-batch is a plain
  * batch DataFrame: the SAME operator implementations run unchanged
  * (quality score = map-side column arithmetic; contamination =
  * [[DedupOps.contaminationHits]], whose eval shingle set broadcasts).
  * This is deliberate — contamination needs a per-doc aggregate of shingle
  * hits, which pure append-mode streaming disallows without event-time
  * watermarks (documents have none), and `foreachBatch` is the standard
  * escape hatch that keeps one implementation for both batch and stream.
  *
  * Division of labor at scale, stated explicitly: NEAR-dup removal stays a
  * periodic batch pass ([[graft.ext.DedupCluster]]) — its pair graph is a
  * global property of the corpus, not of any single micro-batch. In-stream
  * exact dedup against the landed table would follow the
  * [[WeatherStream.writerWithMerge]] digest-anti-join pattern.
  */
object CorpusStream {

  /** Batch-side curation of one micro-batch: quality >= `minQuality` and
    * zero shared 3-grams with `evalDocs`. Public so the spec (and any batch
    * backfill) can run the exact per-batch transform. */
  def curateBatch(batch: DataFrame, evalDocs: DataFrame,
                  minQuality: Double): DataFrame = {
    val scored = TextAnalysis.withQualityScore(TextAnalysis.withFeatures(batch))
    scored
      .filter(col("quality_score") >= minQuality)
      .join(DedupOps.contaminationHits(batch, evalDocs).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .select(batch.columns.map(col): _*) // original schema, flags dropped
  }

  /** Curate one micro-batch and land it idempotently: survivors already in
    * the output (a replayed micro-batch after a failure before the offset
    * committed) are anti-joined away on doc_id, so redelivery cannot
    * duplicate — the same exactly-once-by-key discipline as
    * [[WeatherStream.writerWithMerge]]. The guard reads only the landed
    * doc_id column (column-pruned); at scale, partition the output by
    * ingest date and prune the guard to the replay horizon. */
  def landBatch(batch: DataFrame, evalDocs: DataFrame, outPath: String,
                minQuality: Double): Unit = {
    val survivors = curateBatch(batch, evalDocs, minQuality)
    // first-batch detection by an explicit existence probe, NOT by
    // swallowing AnalysisException — a read failure on an output that
    // does exist (corrupt footer, a compaction swap in flight) must fail
    // the micro-batch so the engine retries it, not silently disable the
    // replay-dedup guard and land duplicates
    val fresh =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(outPath)))
        survivors
      else survivors.join(
        batch.sparkSession.read.parquet(outPath).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    fresh.write.mode("append").parquet(outPath)
  }

  /** Parquet-append writer: caller `.start()`s. `evalDocs` should be a
    * small static frame (an eval benchmark); cache it if the trigger rate
    * is high — its shingle set is recomputed per micro-batch otherwise. */
  def writer(docStream: DataFrame, evalDocs: DataFrame, outPath: String,
             checkpoint: String,
             minQuality: Double = 0.7): DataStreamWriter[Row] =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        landBatch(batch, evalDocs, outPath, minQuality)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
}
