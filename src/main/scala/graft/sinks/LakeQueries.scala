package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analytics.Parity
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

/** The lake's oracle-checked queries (`q_time_travel`, `q_compact`, …): each
  * drives one protocol feature end to end on the default
  * [[VersionedTable]] binding, and its DuckDB oracle recomputes the answer
  * from the raw tables. */
object LakeQueries {
  import VersionedTable._

  /** q_time_travel — the protocol end to end: v1 lands the even half of
    * events, v2 appends the odd half, and the query reads BOTH versions
    * through their pinned manifests, joining per-type counts. The oracle
    * recomputes both snapshots' aggregates from the raw table with the
    * vintage rule inlined — a hash match proves the manifests capture
    * exactly the right file sets and that v1 still reads correctly after
    * v2 committed. */
  def qTimeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_versioned_")
    val v1 = commit(ev.filter(col("event_id") % 2 === 0), dir)
    val v2 = commit(ev.filter(col("event_id") % 2 === 1), dir)
    val a = read(spark, dir, Some(v1))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_v1"),
        round(Parity.decSum2(col("value")), 2).as("sum_v1"))
    val b = read(spark, dir, Some(v2))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_v2"),
        round(Parity.decSum2(col("value")), 2).as("sum_v2"))
    a.join(b, "event_type").orderBy(col("event_type"))
  }

  /** q_compact — the maintenance loop under the oracle gate: three
    * exactly-once micro-batch snapshots land thirds of the events table,
    * compact bin-packs them into one snapshot, and the query aggregates
    * the COMPACTED head. The oracle aggregates the raw table — a hash
    * match proves the logical rewrite preserved every row exactly once
    * (and the pinned pre-compact version stays readable, asserted here
    * so the gate also exercises time travel across a compaction). */
  def qCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_compact_")
    (0 until 3).foreach { b =>
      commitOnce(ev.filter(col("event_id") % 3 === b), dir, s"q_compact:$b")
    }
    val before = versions(dir).last
    val v = compact(spark, dir, targetBytes = 1L << 30)
    require(v == before + 1, s"compact did not publish: $v vs $before")
    require(read(spark, dir, Some(before)).count() ==
      read(spark, dir, Some(v)).count(), "pre-compact version torn")
    read(spark, dir, Some(v))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_sort_order — the declared sort order under the oracle gate:
    * arrival-ordered streaming landings (every file spans the whole
    * `value` range) decay to a range-clustered layout on the ordinary
    * compaction pass once `sort.order=value` is declared. Pinned
    * in-query: before maintenance a band probe admits every file; after
    * one compact the head holds several files and the same probe admits
    * a strict subset (the pruning win the declaration exists for). The
    * presented result aggregates the band through the PRUNED read, so
    * the hash match proves skipped files held none of the answer. */
  def qSortOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_sortord_")
    (0 until 4).foreach { b =>
      commitOnce(ev.filter(col("event_id") % 4 === b), dir,
        s"q_sort_order:$b")
    }
    val pre = versions(dir).last
    val preMeta = filesMeta(spark, dir, Some(pre))
      .select(col("file"), col("size_bytes")).collect()
    val nPre = preMeta.length
    require(prunedFiles(dir, pre, "value", 10.0, 20.0).size == nPre,
      "pre-maintenance files must all admit (arrival order, no stats)")
    setTableProperty(dir, "sort.order", "value")
    val total = preMeta.map(_.getLong(1)).sum
    val v = compact(spark, dir, targetBytes = total / 3 + 1)
    val nPost = filesMeta(spark, dir, Some(v)).count().toInt
    val pruned = prunedFiles(dir, v, "value", 10.0, 20.0)
    require(nPost >= 2 && pruned.nonEmpty && pruned.size < nPost,
      s"declared sort order must make the band probe skip files: " +
        s"${pruned.size} of $nPost admitted")
    prunedRead(spark, dir, "value", 10.0, 20.0)
      .filter(col("value").between(10.0, 20.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_delete_vector — merge-on-read deletes under the oracle gate: two
    * appends land the events table across two file sets, two
    * [[deleteWhere]] commits erase disjoint-by-construction row sets (the
    * second is computed on the LIVE view, so vectors never re-list dead
    * positions), and the query aggregates the head with both vectors
    * anti-joined at scan time. The oracle inlines the two predicates as a
    * WHERE NOT — a hash match proves positional erasure across multiple
    * files, multiple vectors, and an append boundary, with zero data-file
    * rewrites (asserted in DeleteVectorSpec; here the pre-delete snapshot
    * is re-read to pin time travel across a delete). */
  def qDeleteVector(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_delvec_")
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    val v2 = commit(ev.filter(col("event_id") % 2 === 1), dir)
    val v3 = deleteWhere(spark, dir, col("event_id") % 7 === 3)
    val v4 = deleteWhere(spark, dir, col("value") > 90.0)
    require(v3 == v2 + 1 && v4 == v3 + 1,
      s"delete commits did not publish: $v2 -> $v3 -> $v4")
    // time travel across deletes: the pre-delete snapshot still has it all
    require(read(spark, dir, Some(v2)).count() == ev.count(),
      "pre-delete snapshot torn by delete commits")
    read(spark, dir, Some(v4))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_eq_delete — equality deletes under the oracle gate: the events
    * table lands across two appends, one [[deleteByKeys]] commit retracts
    * every `event_id` divisible by 9 with ZERO data scanned, and a THIRD
    * append then re-inserts the deleted rows for one event type — the
    * seq-scoping test: the delete landed before them, so they must
    * survive (an unscoped key filter would swallow them). The query
    * aggregates the head after [[compact]] materialized the delete, so
    * the hash match proves the era-scoped read AND the materializing
    * rewrite produce the same rows; in-query requires pin that the
    * delete commit wrote no data file and that compaction cleared the
    * equality-delete lines (expire would refuse otherwise). */
  def qEqDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_eqdel_")
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    commit(ev.filter(col("event_id") % 2 === 1), dir)
    val dataDirsBefore = backend.list(s"$dir/data").size
    val vDel = deleteByKeys(spark, dir, "event_id",
      ev.filter(col("event_id") % 9 === 0).select(col("event_id")))
    require(backend.list(s"$dir/data").size == dataDirsBefore,
      "deleteByKeys wrote a data file; it must land keys only")
    // re-insert the deleted rows for ONE type: added after the delete →
    // must survive the era-scoped read
    commit(ev.filter(col("event_id") % 9 === 0 &&
      col("event_type") === "click"), dir)
    val eraRead = read(spark, dir)
    val vC = compact(spark, dir, targetBytes = 1L << 30)
    require(eqDelsOf(dir, vC).isEmpty,
      "compact left unmaterialized equality-delete lines behind")
    require(read(spark, dir, Some(vC)).count() == eraRead.count(),
      "materializing compaction changed the live row count")
    require(read(spark, dir, Some(vDel))
      .filter(col("event_id") % 9 === 0).count() == 0,
      "pinned post-delete snapshot still shows deleted keys")
    read(spark, dir, Some(vC))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_merge_lake — MERGE under the oracle gate: the events table lands
    * clustered on `event_id` (so candidate files come from manifest
    * stats), then one [[merge]] applies a CDC-shaped source — every 10th
    * row updated (value + 1000), a disjoint tenth re-keyed past the max id
    * as inserts — and the query aggregates the merged head. The oracle
    * builds the same source as a CTE and takes source ∪ (table ∖ source
    * keys): a hash match proves replace-on-match, insert-on-miss, and
    * that the copy-on-write rewrite lost nothing (file-level scoping is
    * asserted in MergeSpec). */
  def qMergeLake(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_merge_")
    commitClustered(ev, dir, zCols = Seq("event_id"),
      statCols = Seq("event_id"), numFiles = 8)
    val updates = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 1000.0)
    val inserts = ev.filter(col("event_id") % 10 === 1)
      .withColumn("event_id", col("event_id") + 10000000L)
    merge(spark, dir, updates.unionByName(inserts), "event_id")
    read(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_point_lookup — bloom file skipping under the oracle gate: the
    * events table lands hash-scattered on `event_id` (every file spans
    * the full id range, so min/max range stats are structurally useless
    * for a point probe — asserted), [[writeBlooms]] indexes the files,
    * and an IN-list lookup reads only the files whose blooms admit a
    * probe. The in-query require pins that the bloom actually pruned;
    * the hash match against a plain WHERE..IN oracle proves the skipping
    * never lost a matching row. */
  def qPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_bloom_")
    val v = commit(ev.repartition(8, col("event_id")), dir)
    writeStats(spark, dir, v, Seq("event_id"))
    writeBlooms(spark, dir, v, Seq("event_id"))
    val targets: Seq[Any] = Seq(123L, 456L, 789L)
    val kept = prunedFilesEq(spark, dir, v, "event_id", targets)
    require(kept.size < 8,
      s"bloom pruned nothing: ${kept.size} of 8 files kept")
    prunedReadIn(spark, dir, "event_id", targets, Some(v))
      .filter(col("event_id").isin(targets: _*))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 2).as("value_r"))
      .orderBy(col("event_id"))
  }

  /** q_cdc_merge — changelog apply under the oracle gate: one
    * [[mergeChanges]] commit carries updates (every id ending in 5,
    * value + 1000), inserts (ids ending in 1, re-keyed past the max) and
    * DELETES (ids ending in 0) against the clustered events landing, and
    * is then REPLAYED under the same transaction id — the require pins
    * that the replay returns the committed version without publishing.
    * The oracle computes the final state as a CTE (CASE for the update,
    * anti-filter for the delete, union for the insert): a hash match
    * proves upsert+delete-in-one-commit semantics and replay idempotence
    * in the same breath. */
  def qCdcMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_cdcmerge_")
    commitClustered(ev, dir, zCols = Seq("event_id"),
      statCols = Seq("event_id"), numFiles = 8)
    val changes = ev.filter(col("event_id") % 10 === 5)
      .withColumn("value", col("value") + 1000.0)
      .withColumn("op", lit("u"))
      .unionByName(ev.filter(col("event_id") % 10 === 1)
        .withColumn("event_id", col("event_id") + 10000000L)
        .withColumn("op", lit("u")))
      .unionByName(ev.filter(col("event_id") % 10 === 0)
        .withColumn("op", lit("d")))
    val v1 = mergeChanges(spark, dir, changes, "event_id",
      txnId = Some("cdc:0"))
    val v2 = mergeChanges(spark, dir, changes, "event_id",
      txnId = Some("cdc:0"))
    require(v1 == v2, s"replayed txn re-published: $v1 vs $v2")
    read(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_constraint_gate — CHECK constraints under the oracle gate: the
    * in-bounds slice of events lands, a `value <= 100` constraint is
    * declared (validated against the live table; the bound sits inside
    * the value range at every test scale, so the violating slice is
    * never vacuously empty), and the out-of-bounds slice is REJECTED — the requires pin that the rejection throws, that
    * nothing published (still one version), and that the dead batch is
    * vacuum debris. The hash match against the inlined predicate proves
    * the gate kept exactly the declared invariant. */
  def qConstraintGate(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_ck_")
    commit(ev.filter(col("value") <= 100.0), dir)
    addConstraint(spark, dir, "value_cap", "value <= 100.0")
    val rejected =
      try { commit(ev.filter(col("value") > 100.0), dir); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("value_cap") }
    require(rejected, "violating batch was not rejected by the constraint")
    require(versions(dir).size == 1, "a rejected commit published a version")
    require(vacuumOrphans(dir, graceMs = 0L) == 1,
      "rejected batch did not become vacuum debris")
    read(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_change_feed — snapshot CDC under the oracle gate: orders land,
    * a deterministic vintage-2 rewrite OVERWRITES them (dropped keys,
    * rescaled prices, synthetic inserts — non-append lineage, where the
    * in-query require pins that [[readChanges]] refuses), and
    * [[changeFeed]] diffs the two snapshots into i/u/d rows. The feed is
    * then APPLIED to a replica of v1 via [[mergeChanges]] and the require
    * pins that the replica converged to exactly the v2 snapshot —
    * replication across a rewrite, which file-lineage CDC cannot do. The
    * hash match against the oracle's inlined full-outer diff proves the
    * feed's op assignment and imaging (after-image for i/u, before-image
    * for d). */
  def qChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(
        o.select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice"))
          .filter(col("o_orderkey") % 11 === 0))
    val tmp = Workspace.dir("graft_cdf_")
    val dir = s"$tmp/t"
    commit(o, dir)
    commit(v2, dir, append = false) // logical overwrite: non-append lineage
    val refused =
      try { readChanges(spark, dir, 1, 2); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("pure appends") }
    require(refused, "readChanges accepted a non-append range")
    val feed = changeFeed(spark, dir, "o_orderkey", 1, 2)
    // cache only for the in-query requires; the RETURNED frame executes
    // after the unpersist, recomputing the (codegen-resident) diff plan —
    // a LocalRelation of collected rows would pass the hash but exempt
    // this query from the plan-invariant gate
    feed.persist()
    try {
      // replication: applying the feed to a replica of v1 reproduces v2.
      // The replica is a zero-copy branch pinned at v1 — O(pointers), no
      // second landing of the full snapshot (the former `commit(o,
      // replica)` wrote every orders row AGAIN purely to seed the
      // replica; a fork at v1 is the same starting state by
      // construction, and the feed apply still rewrites real files)
      val replica = createBranch(dir, "replica", version = Some(1))
      mergeChanges(spark, replica,
        feed.withColumn("op",
          when(col("op") === "i", "u").otherwise(col("op"))),
        "o_orderkey")
      val live = read(spark, replica)
      // order-insensitive multiset fingerprint (count + wrap-safe sum of
      // row hashes), ONE aggregate pass per side — the qSqlDedup proof
      // pattern. The former count+exceptAll form executed each side
      // TWICE (once for its count, once inside the exceptAll join) and
      // hash-partitioned both full snapshots; the check is PROBABILISTIC
      // multiset equality (collision odds ~2⁻⁶⁴ per differing row pair),
      // ~half the passes and zero join shuffle. Each column contributes
      // its NATIVE value plus an explicit null flag: xxhash64 skips null
      // arguments, so without the flag, rows differing only in WHICH
      // column is null would hash identically.
      def snapSig(df: org.apache.spark.sql.DataFrame): (Long, Any) = {
        val h = xxhash64(df.columns.sorted
          .flatMap(c => Seq(col(c), col(c).isNull)).toIndexedSeq: _*)
        val r = df.agg(count(lit(1)).as("n"),
          sum(h.cast("decimal(38,0)")).as("s")).head()
        (r.getLong(0), r.get(1))
      }
      require(snapSig(live) == snapSig(v2),
        "replica after feed apply diverged from the target snapshot")
    } finally feed.unpersist()
    feed.groupBy(col("op"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("op"))
  }

  /** q_branch_ff — branch/fast-forward under the oracle gate: half the
    * events land on main, a branch forks zero-copy, the OTHER half plus
    * an audit delete happen on the branch (invisible to main — asserted
    * mid-query), and fast-forward publishes the branch head back. The
    * requires pin the isolation (main unchanged while the branch
    * diverges) and the zero-copy contract (fast-forward adds no batch
    * dir to main's data area); the hash match against the inlined audit
    * predicate proves the fork → mutate → fast-forward lineage loses and
    * invents nothing. */
  def qBranchFf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dir = Workspace.dir("graft_branch_")
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    val bd = createBranch(dir, "audit")
    commit(ev.filter(col("event_id") % 2 === 1), bd)
    deleteWhere(spark, bd, col("value") > 450.0)
    require(read(spark, dir).count() ==
      ev.filter(col("event_id") % 2 === 0).count(),
      "branch mutation leaked into the parent before fast-forward")
    val dataDirs = backend.list(s"$dir/data").size
    fastForward(spark, dir, "audit")
    require(backend.list(s"$dir/data").size == dataDirs,
      "fast-forward copied data into the parent; it must be manifest-only")
    retireBranch(dir, "audit")
    read(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_wap_promote — write-audit-publish under the oracle gate: the
    * events table lands in a STAGING table, the audit rejects outliers
    * merge-on-read (deleteWhere, a stand-in for any quality gate), and
    * the audited snapshot is promoted into the production table by
    * manifest reference — the in-query require pins that production's
    * data area holds ZERO files (nothing was copied), and staging is
    * retired. The oracle inlines the audit predicate — a hash match
    * proves the promoted manifest captures exactly the audited snapshot,
    * delete vectors included. */
  def qWapPromote(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_wap_")
    val staging = s"$tmp/staging"
    val prod = s"$tmp/prod"
    commit(ev, staging)
    deleteWhere(spark, staging, col("value") > 400.0) // the audit
    promote(spark, staging, prod, append = false)
    retire(staging)
    require(backend.list(s"$prod/data").isEmpty,
      "promotion copied data files; it must be manifest-only")
    read(spark, prod)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q_hidden_partition — hidden partitioning end to end under the
    * oracle gate: events land as TWO plain commits into a days(ts)-
    * declared table (no optimize pass, no partition column mentioned
    * anywhere), and a mid-month window probe must skip files at the
    * manifest level; a second bucket(16,user_id)-declared landing must
    * resolve a user equality probe to a file subset whose filtered rows
    * exactly match the full scan's. The returned aggregate is the window
    * probe's — a hash match proves the transform-clustered landing
    * changed LAYOUT only, never results. */
  def qHiddenPartition(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val tmp = Workspace.dir("graft_hpart_")
    val days = s"$tmp/days"; val buckets = s"$tmp/buckets"
    declarePartitioning(days, Seq("days(ts)"), numFiles = 8)
    commit(ev.filter(col("event_id") % 2 === 0), days)
    commit(ev.filter(col("event_id") % 2 === 1), days)
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-13T00:00:00Z")
    val v = versions(days).last
    val allDays = prunedFiles(days, v, "ts",
      java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-02-01T00:00:00Z"))
    val kept = prunedFiles(days, v, "ts", lo, hi)
    require(kept.size < allDays.size,
      s"date probe kept ${kept.size} of ${allDays.size} files — " +
        "hidden partitioning pruned nothing")
    declarePartitioning(buckets, Seq("bucket(16,user_id)"), numFiles = 16)
    commit(ev, buckets)
    val vb = versions(buckets).last
    val allB = prunedFiles(buckets, vb, "event_id",
      Long.MinValue, Long.MaxValue) // no event_id stats → the full list
    val keptB = prunedFilesEq(spark, buckets, vb, "user_id", Seq(42L))
    require(keptB.size < allB.size,
      s"bucket probe kept ${keptB.size} of ${allB.size} files")
    val exactB = read(spark, buckets)
      .filter(col("user_id") === 42L).count()
    val prunedB = prunedReadIn(spark, buckets, "user_id", Seq(42L))
      .filter(col("user_id") === 42L).count()
    require(prunedB == exactB,
      s"bucket-pruned read returned $prunedB rows, full scan $exactB")
    prunedRead(spark, days, "ts", lo, hi)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_time_travel" -> (qTimeTravel _),
    "q_compact" -> (qCompact _),
    "q_sort_order" -> (qSortOrder _),
    "q_delete_vector" -> (qDeleteVector _),
    "q_eq_delete" -> (qEqDelete _),
    "q_merge_lake" -> (qMergeLake _),
    "q_point_lookup" -> (qPointLookup _),
    "q_cdc_merge" -> (qCdcMerge _),
    "q_branch_ff" -> (qBranchFf _),
    "q_change_feed" -> (qChangeFeed _),
    "q_constraint_gate" -> (qConstraintGate _),
    "q_wap_promote" -> (qWapPromote _),
    "q_hidden_partition" -> (qHiddenPartition _))

  val oracles: Map[String, String] = Map(
    "q_hidden_partition" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-13 00:00:00'
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_time_travel" ->
      """SELECT event_type,
        |  COUNT(CASE WHEN event_id % 2 = 0 THEN 1 END) AS n_v1,
        |  ROUND(CAST(SUM(CASE WHEN event_id % 2 = 0
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS sum_v1,
        |  COUNT(*) AS n_v2,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_v2
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_compact" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_sort_order" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE value BETWEEN 10.0 AND 20.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_delete_vector" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE NOT (event_id % 7 = 3) AND NOT (value > 90.0)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_eq_delete" ->
      """WITH final AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE NOT (event_id % 9 = 0)
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events
        |  WHERE event_id % 9 = 0 AND event_type = 'click'
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM final
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_merge_lake" ->
      """WITH src AS (
        |  SELECT event_id, event_type, value + 1000.0 AS value
        |  FROM events WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, event_type, value
        |  FROM events WHERE event_id % 10 = 1
        |), merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT e.event_id, e.event_type, e.value FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = e.event_id)
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM merged
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_change_feed" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |), v2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_orderstatus,
        |    o_totalprice
        |  FROM orders WHERE (o_orderkey + 100000000) % 11 = 0
        |), feed AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'i'
        |              WHEN a.o_orderkey IS NULL THEN 'd'
        |              ELSE 'u' END AS op,
        |         CASE WHEN a.o_orderkey IS NULL THEN b.o_totalprice
        |              ELSE a.o_totalprice END AS o_totalprice
        |  FROM v2 a FULL OUTER JOIN v1 b ON a.o_orderkey = b.o_orderkey
        |  WHERE b.o_orderkey IS NULL OR a.o_orderkey IS NULL
        |     OR a.o_orderstatus <> b.o_orderstatus
        |     OR a.o_totalprice <> b.o_totalprice
        |)
        |SELECT op, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM feed GROUP BY op ORDER BY op""".stripMargin,
    "q_constraint_gate" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE value <= 100.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_branch_ff" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE NOT (value > 450.0)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_point_lookup" ->
      """SELECT event_id, event_type, ROUND(value, 2) AS value_r
        |FROM events
        |WHERE event_id IN (123, 456, 789)
        |ORDER BY event_id""".stripMargin,
    "q_cdc_merge" ->
      """WITH final AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 10 = 5 THEN value + 1000.0 ELSE value END
        |      AS value
        |  FROM events WHERE event_id % 10 <> 0
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, event_type, value
        |  FROM events WHERE event_id % 10 = 1
        |)
        |SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM final
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_wap_promote" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events
        |WHERE NOT (value > 400.0)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
