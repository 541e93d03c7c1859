package graft.sinks

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.graft.Workspace

import graft.analytics.Incremental
import graft.sources.Tables

/** One refresh's outcome: how the view advanced (`initial` first build,
  * `incremental` O(delta) fold, `recompute` full rebuild after non-append
  * source history, `noop` already current) and the (view, source) versions
  * after it. */
final case class ViewRefresh(mode: String, viewVersion: Int,
                             srcVersion: Int)

/** Incremental materialized-view maintenance over [[VersionedTable]]:
  * a derived table (a rollup, an index, any mergeable partial state) kept
  * current against a source table at O(changes) cost instead of
  * re-aggregating the full history per refresh — on a 100 TB landing the
  * difference between a view you refresh every micro-batch and one you
  * rebuild nightly. The reference recomputes its derived check per run
  * (/root/reference/airflow/dags/weather_etl.py:156–187); this is that
  * land-then-derive loop in the shape that survives scale.
  *
  * Protocol: the view's head manifest carries `#txn=ivm:<srcDir>@v<N>` —
  * the SOURCE version the state incorporates rides in the view's own
  * commit, so pointer and state publish atomically (no sidecar file to
  * crash between). A refresh reads the pointer, takes
  * `readChanges(pointer, srcHead)`, folds the delta's partials into the
  * current state, and commits with the new pointer — exactly-once by
  * [[VersionedTableOps.commitOnce]] semantics (a replayed refresh of the
  * same source version is a no-op returning the published version).
  * Non-append source history (overwrite / rollback / compaction / row
  * deletes in range) makes the delta unsound; [[refresh]] detects it via
  * [[VersionedTableOps.isPureAppend]] and falls back to a full recompute
  * (or refuses when `allowRecompute = false`).
  *
  * Two maintenance shapes:
  *  - [[refresh]] republishes the WHOLE state as a logical overwrite —
  *    one bounded |groups|-row write, prior states stay time-travelable.
  *    Right when the state is small relative to its table (daily rollups).
  *  - [[refreshKeyed]] upserts ONLY the groups the delta touched through
  *    copy-on-write [[VersionedTableOps.merge]] — files without an
  *    affected key survive byte-identical (manifest-stats pruning scopes
  *    the rewrite). Right when the state itself is large (per-user
  *    aggregates over billions of users): cost is O(delta + touched
  *    files), not O(|groups|).
  */
class IncrementalViewOps(ops: VersionedTableOps) {

  private def txnPrefix(srcDir: String) = s"ivm:$srcDir@v"
  /** The txn also encodes the view version the refresh built ON (`;b<n>`)
    * so it is unique per PUBLISH, not per source version: after a view
    * rollback or a foreign commit, re-incorporating a source version that
    * is already in the carried txn ledger must still publish — a
    * ledger-level short-circuit ([[VersionedTableOps.commitOnce]] /
    * merge replay protection) would silently return the STALE version.
    * Refresh replay safety never needed the ledger: a re-run after a
    * crash-after-publish sees the advanced pointer and no-ops. */
  private def txnFor(srcDir: String, v: Int, viewBase: Int) =
    s"${txnPrefix(srcDir)}$v;b$viewBase"

  /** The source version the view head incorporates — `None` for an empty
    * view or one whose head was not published by this maintainer against
    * `srcDir` (a foreign commit orphans the pointer; the next refresh
    * recomputes rather than trust state of unknown provenance). */
  def incorporated(viewDir: String, srcDir: String): Option[Int] =
    headIncorporation(viewDir, srcDir).map(_._2)

  /** `(viewVersion, srcVersion)` of the view HEAD's incorporation pointer
    * — both halves read from the same head so a caller that pins its view
    * read at `viewVersion` is race-free against a concurrent refresh
    * advancing the head between check and read (the [[graft.sql.Mview]]
    * rewrite's freshness proof). */
  def headIncorporation(viewDir: String, srcDir: String): Option[(Int, Int)] =
    ops.versions(viewDir).lastOption.flatMap { h =>
      ops.txnOf(viewDir, h)
        .filter(_.startsWith(txnPrefix(srcDir)))
        .map(t => (h,
          t.drop(txnPrefix(srcDir).length).takeWhile(_.isDigit).toInt))
    }

  /** Refresh by whole-state republish (logical overwrite commit).
    * `partials` builds mergeable per-group state from raw rows;
    * `mergeStates` folds two state frames into one (associative merge of
    * every state column — counts add, mins min).
    *
    * Source frames are SERVED-value views: nested existence defaults
    * substitute before `partials` runs (identity for undefaulted
    * sources — one metadata read per refresh), so a view's fold always
    * agrees with `SELECT … GROUP BY` through the catalog door — the
    * equivalence the transparent rewrite ([[graft.sql.Mview]]) serves.
    * Raw change feeds keep their stored-value convention; the
    * substitution happens HERE, at the one consumer that claims
    * query-door semantics. */
  def refresh(spark: SparkSession, srcDir: String, viewDir: String,
              partials: DataFrame => DataFrame,
              mergeStates: (DataFrame, DataFrame) => DataFrame,
              allowRecompute: Boolean = true): ViewRefresh =
    doRefresh(spark, srcDir, viewDir, partials, allowRecompute) {
      (srcHead, base, txn) =>
        val delta = partials(ops.substDefaults(srcDir,
          ops.readChanges(spark, srcDir, base, srcHead)))
        val next = mergeStates(ops.read(spark, viewDir), delta)
        ops.commit(next, viewDir, append = false, txnId = Some(txn))
    }

  /** Refresh by keyed upsert: only groups present in the delta are
    * rewritten, through stats-pruned copy-on-write MERGE on `key` (one
    * state row per key — composite group keys are encoded into one
    * column, e.g. `concat_ws('|', day, event_type)`). The current state
    * is touched ONLY for the affected keys (semi-join, column-pruned
    * scan); untouched files survive byte-identical.
    *
    * Contract: state column types must be STABLE under `mergeStates` —
    * Spark widens decimal sums per fold (`sum(decimal(28,4))` →
    * `decimal(38,4)`), and because this path rewrites only SOME files,
    * a widened accumulator puts mixed parquet physical types in one
    * table and reads fail. Cast accumulators back to the state schema
    * inside `mergeStates` (the overwrite path is immune — it republishes
    * every file each refresh). */
  def refreshKeyed(spark: SparkSession, srcDir: String, viewDir: String,
                   key: String, partials: DataFrame => DataFrame,
                   mergeStates: (DataFrame, DataFrame) => DataFrame,
                   allowRecompute: Boolean = true): ViewRefresh =
    doRefresh(spark, srcDir, viewDir, partials, allowRecompute) {
      (srcHead, base, txn) =>
        val delta = partials(ops.substDefaults(srcDir,
          ops.readChanges(spark, srcDir, base, srcHead))).persist()
        try {
          val affectedOld = ops.read(spark, viewDir)
            .join(delta.select(col(key)).distinct(), Seq(key), "left_semi")
          ops.merge(spark, viewDir, mergeStates(affectedOld, delta), key,
            txnId = Some(txn))
        } finally delta.unpersist()
    }

  /** Fold ONE replayable micro-batch into a keyed view, exactly once —
    * the streaming twin of [[refreshKeyed]] for foreachBatch loops where
    * the delta arrives AS the batch (e.g. a `graft-table` stream) instead
    * of being pulled via readChanges. Here the txn LEDGER is the correct
    * replay guard (unlike the refresh pointer protocol): foreachBatch
    * guarantees a single writer with monotone batch ids per query, so a
    * redelivered `txnId` short-circuits in
    * [[VersionedTableOps.commitOnce]]/merge and nothing double-folds.
    * An empty batch is skipped (replaying it is equally empty). */
  def foldBatch(batch: DataFrame, viewDir: String, key: String,
                partials: DataFrame => DataFrame,
                mergeStates: (DataFrame, DataFrame) => DataFrame,
                txnId: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val delta = partials(batch).persist()
    try {
      if (ops.versions(viewDir).isEmpty)
        ops.commitOnce(delta, viewDir, txnId)
      else {
        val affectedOld = ops.read(spark, viewDir)
          .join(delta.select(col(key)).distinct(), Seq(key), "left_semi")
        ops.merge(spark, viewDir, mergeStates(affectedOld, delta), key,
          txnId = Some(txnId))
      }
    } finally delta.unpersist()
    ()
  }

  /** foreachBatch writer maintaining a keyed view from a stream; caller
    * `.start()`s. Per-query txn namespace = foreachBatch's single-writer
    * guarantee, same discipline as [[graft.streaming.VersionedStream]]. */
  def maintainer(stream: DataFrame, viewDir: String, key: String,
                 partials: DataFrame => DataFrame,
                 mergeStates: (DataFrame, DataFrame) => DataFrame,
                 queryName: String,
                 checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, viewDir, key, partials, mergeStates,
          s"$queryName:$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Shared refresh skeleton: resolve the pointer, pick
    * noop / initial / incremental / recompute, run `incremental` for the
    * sound-delta case. */
  private def doRefresh(spark: SparkSession, srcDir: String,
                        viewDir: String, partials: DataFrame => DataFrame,
                        allowRecompute: Boolean)(
      incremental: (Int, Int, String) => Int): ViewRefresh = {
    val srcVs = ops.versions(srcDir)
    require(srcVs.nonEmpty, s"no committed version at source $srcDir")
    val srcHead = srcVs.last
    val viewVs = ops.versions(viewDir)
    val txn = txnFor(srcDir, srcHead, viewVs.lastOption.getOrElse(0))
    val base = incorporated(viewDir, srcDir)
    def full(mode: String) = {
      require(mode == "initial" || allowRecompute,
        s"view $viewDir needs a full recompute (mode=$mode: source " +
          s"history is not pure-append since the incorporated version, " +
          s"or the head pointer is foreign) and allowRecompute=false")
      val state = partials(ops.substDefaults(srcDir,
        ops.read(spark, srcDir, Some(srcHead))))
      ViewRefresh(mode,
        ops.commit(state, viewDir, append = false, txnId = Some(txn)),
        srcHead)
    }
    base match {
      case Some(v) if v == srcHead =>
        ViewRefresh("noop", viewVs.last, srcHead)
      case None =>
        full(if (viewVs.isEmpty) "initial" else "recompute")
      case Some(v) if !ops.isPureAppend(srcDir, v, srcHead) =>
        full("recompute")
      case Some(v) =>
        ViewRefresh("incremental", incremental(srcHead, v, txn), srcHead)
    }
  }
}

/** Default instance + driver-gate queries. */
object IncrementalView extends IncrementalViewOps(VersionedTable) {

  /** Keyed-state builders for the merge-path demo: the rollup state of
    * [[Incremental]] plus a single-column group key (`gk` = day|type) so
    * copy-on-write MERGE can address groups, range-clustered by `gk` so
    * the state lands in key-disjoint files the merge can prune. */
  private def keyedPartials(files: Int)(rows: DataFrame): DataFrame =
    Incremental.partials(rows)
      .withColumn("sum_v", col("sum_v").cast("decimal(28,4)"))
      .withColumn("gk", concat_ws("|", col("day"), col("event_type")))
      .repartitionByRange(files, col("gk"))

  private def keyedMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("gk"), col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        // cast the fold back to the state type (see refreshKeyed contract)
        sum(col("sum_v")).cast("decimal(28,4)").as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))

  /** q_incr_view — the maintained-view lifecycle under the oracle gate:
    * half the events land, the view builds (`initial`); the other half
    * appends, the view folds ONLY the delta (`incremental` — the require
    * pins the mode, i.e. the full history was not re-read); a third
    * refresh is a `noop` that publishes nothing. The presented view
    * hash-matches a full-history aggregate oracle — the incremental fold
    * converged to exactly the answer a from-scratch GROUP BY gives. */
  def qIncrView(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val tmp = Workspace.dir("graft_ivm_")
    val src = s"$tmp/src"
    val view = s"$tmp/view"
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 0), src)
    val r1 = refresh(spark, src, view, Incremental.partials,
      Incremental.merge(_, _))
    require(r1.mode == "initial", s"first refresh was ${r1.mode}")
    VersionedTable.commit(ev.filter(col("event_id") % 2 === 1), src)
    val r2 = refresh(spark, src, view, Incremental.partials,
      Incremental.merge(_, _))
    require(r2.mode == "incremental", s"second refresh was ${r2.mode}")
    val r3 = refresh(spark, src, view, Incremental.partials,
      Incremental.merge(_, _))
    require(r3.mode == "noop" && r3.viewVersion == r2.viewVersion,
      s"already-current refresh republished: $r3")
    Incremental.present(VersionedTable.read(spark, view))
      .orderBy(col("day"), col("event_type"))
  }

  /** q_incr_view_merge — the keyed upsert path under the oracle gate: the
    * view's state lands range-clustered by group key; the append touches
    * only HALF the days, and the refresh upserts through copy-on-write
    * MERGE — the require pins that at least one state file of the
    * initial build survives byte-identical into the refreshed version
    * (the rewrite was scoped to touched groups, not the whole state).
    * Hash-matches the same full-history aggregate oracle. */
  def qIncrViewMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val tmp = Workspace.dir("graft_ivmk_")
    val src = s"$tmp/src"
    val view = s"$tmp/view"
    // split at the wall-clock midpoint: the delta is a contiguous TAIL of
    // days, so in the gk-range-clustered state only the boundary-day file
    // (and pure inserts) can be touched — the early files must survive.
    // The midpoint lands mid-day, so the boundary day's groups exist in
    // BOTH batches: the refresh exercises a real state merge, not just
    // inserts.
    val Array(lo, hi) = ev.agg(min(col("ts")).cast("long"),
      max(col("ts")).cast("long")).head().toSeq.map(_.asInstanceOf[Long])
      .toArray
    val early = col("ts").cast("long") <= lit((lo + hi) / 2)
    VersionedTable.commit(ev.filter(early), src)
    val r1 = refreshKeyed(spark, src, view, "gk", keyedPartials(4),
      keyedMerge)
    require(r1.mode == "initial", s"first refresh was ${r1.mode}")
    VersionedTable.writeStats(spark, view, r1.viewVersion, Seq("gk"))
    val v1Files = VersionedTable.filesMeta(spark, view,
      Some(r1.viewVersion)).select("file").collect().map(_.getString(0))
    VersionedTable.commit(ev.filter(!early), src)
    val r2 = refreshKeyed(spark, src, view, "gk", keyedPartials(4),
      keyedMerge)
    require(r2.mode == "incremental", s"second refresh was ${r2.mode}")
    val v2Files = VersionedTable.filesMeta(spark, view,
      Some(r2.viewVersion)).select("file").collect().map(_.getString(0))
      .toSet
    require(v1Files.exists(v2Files), "keyed refresh rewrote every state " +
      "file — the merge was not scoped to touched groups")
    require(refreshKeyed(spark, src, view, "gk", keyedPartials(4),
      keyedMerge).mode == "noop", "already-current keyed refresh reran")
    Incremental.present(VersionedTable.read(spark, view))
      .orderBy(col("day"), col("event_type"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_view" -> (qIncrView _),
    "q_incr_view_merge" -> (qIncrViewMerge _))

  /** Both paths converge to the same full-history rollup — the oracle is
    * the from-scratch aggregate the view never actually ran. */
  private val fullRollupSql =
    """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v,
      |  ROUND(MIN(value), 6) AS min_v,
      |  ROUND(MAX(value), 6) AS max_v,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_v
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_incr_view" -> fullRollupSql,
    "q_incr_view_merge" -> fullRollupSql)
}
