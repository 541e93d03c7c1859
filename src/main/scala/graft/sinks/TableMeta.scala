package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-level declarations of [[VersionedTableOps]]: hidden partitioning,
  * durable table properties and the auto-compact/analyze/expire/refresh
  * triggers they drive, the declared-schema chain and retired-column
  * ledger, and commit-time CHECK constraints.
  *
  * Each metadata store has one on-disk format with one reader and one
  * writer: properties and the declared schema are OCC chains of
  * exclusively-created entries (`manifests/props/p<n>`,
  * `manifests/schema/d<n>`), and the auto-ANALYZE counter and the
  * retired-column ledger are append-only ledgers of one file per entry
  * (`manifests/analyzecount.d/`, `manifests/retired.d/`). A table with
  * no entry in a store has no value there. */
private[sinks] trait TableMeta { self: VersionedTableOps =>

  // ---- hidden partitioning (declared transforms, see Partitioning.scala) --

  private def partitioningPath(dir: String) =
    s"${manifestDir(dir)}/partitioning"

  /** Declare the table's partition transforms ONCE; every subsequent
    * plain [[commit]] (and therefore [[commitOnce]] — the streaming
    * landing) clusters its batch by them and records the covering stats,
    * so probes on the source columns prune with no manual optimize pass.
    * Re-declaring replaces the spec for FUTURE landings only (partition
    * evolution): already-landed files keep their stats, and pruning
    * stays a superset guarantee either way. `numFiles` caps files per
    * landed batch (AQE coalesces below it for small batches). */
  def declarePartitioning(dir: String, specs: Seq[String],
                          numFiles: Int = 8): Unit = {
    require(specs.nonEmpty, "declarePartitioning needs at least one spec")
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    val parsed = specs.map(PartitionTransform.parse) // loud on a bad spec
    io.mkdirs(manifestDir(dir))
    io.writeLines(partitioningPath(dir),
      s"#files=$numFiles" +: parsed.map(_.spec))
  }

  /** Remove the partitioning declaration (REPLACE TABLE abort-restore
    * when the prior table was unpartitioned). */
  private[graft] def clearPartitioning(dir: String): Unit =
    io.delete(partitioningPath(dir))

  /** Remove everything the ENGINE created under `dir` — manifests,
    * data, deletes, segments — and nothing else: the staged-CREATE
    * abort for a directory that existed before the stage (it may hold
    * unrelated children, e.g. sibling tables of a namespace). */
  private[graft] def purgeTableArtifacts(dir: String): Unit =
    Seq(manifestDir(dir), s"$dir/data", s"$dir/deletes")
      .foreach(purgeDir)

  // ---- table properties (an OCC chain next to the manifests) ----

  private def propsChainDir(dir: String) = s"${manifestDir(dir)}/props"

  private def parseProps(lines: Seq[String]): Map[String, String] =
    lines.filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** (chain head index, current map); head 0 = no chain yet, no
    * properties. */
  private def propsState(dir: String): (Int, Map[String, String]) = {
    val (n, lines) = chainHead(propsChainDir(dir), "p")
    (n, lines.fold(Map.empty[String, String])(parseProps))
  }

  /** OCC read-modify-write over the chain: claim index head+1 with
    * createExclusive; the LOSER re-reads and re-applies — a single-key
    * update commutes with any concurrent one, so auto-retry is the
    * right policy (unlike the schema CAS, where a lost ALTER must
    * refuse: its change set was computed against a schema that no
    * longer exists), and two concurrent SET TBLPROPERTIES both land.
    * `f` returning None means no-op (no chain entry lands at all). */
  private def propsOcc(dir: String)(
      f: Map[String, String] => Option[Map[String, String]]): Unit = {
    var done = false
    while (!done) {
      val (n, cur) = propsState(dir)
      f(cur) match {
        case None => done = true
        case Some(next) =>
          val body = next.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          io.mkdirs(propsChainDir(dir))
          if (io.createExclusive(s"${propsChainDir(dir)}/p${n + 1}", body)) {
            chainPrune(propsChainDir(dir), "p", n + 1)
            invalidateProperties(dir)
            done = true
          }
      }
    }
  }

  /** Durable per-table key=value properties — maintenance knobs the
    * table carries instead of every caller re-passing them. Known keys:
    * `eqdel.compact.threshold` (auto-materialize once this many
    * equality-delete entries accumulate — see [[deleteByKeys]]) and
    * `compact.target.bytes` (the bin size such an automatic pass uses;
    * default 128 MiB). */
  def setTableProperty(dir: String, key: String, value: String): Unit = {
    require(!key.contains('=') && key.nonEmpty, s"bad property key '$key'")
    // derived presentation keys (SHOW CREATE's record of nested
    // existence defaults — [[graft.sql.GraftCatalog]]): a post-hoc SET
    // would fork the declared schema's source of truth, and a default
    // declared AFTER rows landed would rewrite history's served values
    require(!key.startsWith("graft.nested.default."),
      s"'$key' is derived from the declared schema; declare nested " +
        "defaults at CREATE TABLE (TBLPROPERTIES round-trip) or via " +
        "ALTER TABLE ADD COLUMNS (... DEFAULT ...)")
    // `sort.order` is born-valid or refused (the declaration discipline):
    // a column that doesn't resolve would otherwise fail — or silently
    // skip — every future compaction pass instead of this call
    if (key == SortOrderKey) {
      val cols = value.split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, "sort.order must name at least one column")
      schemaForValidation(dir).foreach { sc =>
        cols.foreach(c => require(
          sc.fields.exists(_.name.equalsIgnoreCase(c)),
          s"sort.order column '$c' does not exist in $dir " +
            s"(have: ${sc.fieldNames.mkString(", ")})"))
      }
    }
    propsOcc(dir)(m => Some(m + (key -> value)))
  }

  /** Remove a durable property (no-op when absent — no chain entry
    * lands, so no stamp moves). */
  def removeTableProperty(dir: String, key: String): Unit =
    propsOcc(dir)(m => if (!m.contains(key)) None else Some(m - key))

  /** Memo for [[tableProperties]], keyed by the chain dir and stamped
    * with its head index — the cboFold pattern (see `cboFoldCache`), and
    * for the same reason: `tableProperties` runs at PLAN time (the mview
    * rewrite rule consults `mview.attached` per Aggregate-over-scan per
    * fixed-point iteration; sort-order and maintenance knobs read it
    * too), and behind an object-store TableIO an uncached read is a GET
    * per plan. A hit costs one `list` instead. The head index is monotone
    * by construction, so a foreign writer can never revisit a stamp and
    * cross-process writers are covered by the stamp alone; in-process
    * writers additionally invalidate eagerly (see
    * [[setTableProperty]]/[[removeTableProperty]]). LRU-capped like the
    * fold cache; correctness never rides on a hit. `propsReads` counts
    * actual line-reads (cache misses) — the optimizer-IO canary's
    * probe. */
  private val propsCache =
    new java.util.LinkedHashMap[String, (Int, Map[String, String])](
      64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Int, Map[String, String])])
          : Boolean = size > 512
    }
  private[graft] val propsReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] def invalidateProperties(dir: String): Unit =
    propsCache.synchronized(propsCache.remove(propsChainDir(dir)))

  /** Flush every path-keyed memo — required when the BACKEND behind
    * `io` changes ([[VersionedTable.setBackend]]): a path string means
    * a different store afterwards, so a stale hit would serve the old
    * backend's bytes. Correctness never rides on a hit; the caches
    * refill from the new backend. */
  protected def clearPathMemos(): Unit = {
    propsCache.synchronized(propsCache.clear())
    segCache.clear()
    cboFoldCache.synchronized(cboFoldCache.clear())
  }

  def tableProperties(dir: String): Map[String, String] = {
    // a hit costs one `list`; a miss adds one `readLines` of the head
    // entry (retry via chainHead when a prune wins the race for a
    // just-listed head)
    val cd = propsChainDir(dir)
    val ns = io.list(cd).filter(_.startsWith("p"))
      .flatMap(n => scala.util.Try(n.drop(1).toInt).toOption)
    if (ns.isEmpty) return Map.empty
    val stamp = ns.max
    val hit = propsCache.synchronized {
      Option(propsCache.get(cd)).filter(_._1 == stamp).map(_._2)
    }
    hit.getOrElse {
      propsReads.incrementAndGet()
      val m = propsState(dir)._2
      propsCache.synchronized { propsCache.put(cd, (stamp, m)) }
      m
    }
  }

  /** Declared table sort order (`sort.order=c1,c2`): the within-file
    * clustering every COMPACTION pass (explicit, scoped, auto) restores —
    * one range shuffle + local sort over the rewritten slice, stats
    * recorded for the sort columns — so a streaming table whose landings
    * arrive in event order decays back to a prunable layout on its
    * ordinary maintenance cadence, with no operator chasing it with
    * optimize calls. Plain landings stay untouched (a per-commit range
    * shuffle would tax every micro-batch; hidden partitioning already
    * clusters ACROSS files — this completes the WITHIN-file order).
    * Declared under logical names, resolved here to the physical names
    * files carry. */
  private[graft] val SortOrderKey = "sort.order"

  def sortOrderOf(dir: String): Seq[String] = {
    val declared = declaredSchema(dir).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    tableProperties(dir).get(SortOrderKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { c =>
        declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
          .map(graft.sql.ColumnMapping.physOf).getOrElse(c)
      }
  }

  /** Best schema available for declaration-time validation: the declared
    * schema if CREATE TABLE pinned one, else the head vintage's inferred
    * schema, else None (nothing landed yet — nothing to validate
    * against). */
  private def schemaForValidation(dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    declaredSchema(dir)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .orElse(versions(dir).lastOption.flatMap(v =>
        scala.util.Try(vintageSchema(SparkSession.active, dir, v))
          .toOption))

  /** Materialize merge-on-read debt if any is present, else no-op — the
    * "make the metadata path usable again" convenience: positional
    * vectors and equality deletes fold into rewritten files
    * ([[compact]]), after which [[fastCount]]/[[fastMinMax]] and catalog
    * reads serve again. Returns the head (new or unchanged). */
  def compactIfDebt(spark: SparkSession, dir: String,
                    targetBytes: Long = DefaultCompactTargetBytes): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    if (delFilesOf(dir, head).isEmpty && eqDelsOf(dir, head).isEmpty) head
    else compact(spark, dir, targetBytes)
  }

  private[sinks] val DefaultCompactTargetBytes: Long = 128L << 20

  /** The declared transforms (empty = table is unpartitioned). */
  def partitioningOf(dir: String): Seq[PartitionTransform] = {
    val p = partitioningPath(dir)
    if (!io.exists(p)) Seq.empty
    else io.readLines(p).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(PartitionTransform.parse)
  }

  private[graft] def partitioningNumFiles(dir: String): Int = ptNumFiles(dir)

  private[sinks] def ptNumFiles(dir: String): Int = {
    val p = partitioningPath(dir)
    if (!io.exists(p)) 8
    else io.readLines(p)
      .collectFirst { case l if l.startsWith("#files=") => l.drop(7).toInt }
      .getOrElse(8)
  }

  /** Land `df` as a new snapshot. `append = true` carries the current
    * head's files forward plus the new ones (re-resolved on every OCC
    * retry); `false` makes the new files the whole snapshot (logical
    * overwrite — old files stay on disk, still reachable through old
    * manifests). Returns the new version. A table with declared
    * [[declarePartitioning partitioning]] clusters the batch by its
    * transforms (one O(batch) range shuffle) and records the covering
    * stats instead of bare row counts — landing and layout are one step,
    * which is what keeps a 100 TB streaming landing prunable without a
    * separate optimize job chasing it. */
  private[sinks] def smallCountPath(dir: String) =
    s"${manifestDir(dir)}/smallcount"

  /** Automatic small-file compaction for streaming landings (the
    * `compact.auto.files` table property): each commit stats ONLY its
    * own batch — O(batch), never O(table) — and accumulates how many
    * files landed under `compact.small.bytes` (default: half the
    * compaction target) in an advisory counter next to the manifests.
    * The commit that crosses the threshold pays one [[compact]] pass
    * and resets. The counter is ADVISORY by design: racing writers may
    * lose an increment and a concurrent shape conflict skips the pass
    * with the count restored — either way compaction happens a few
    * landings late, results are never wrong, and no commit ever fails
    * because maintenance lost a race. Returns the compacted head when a
    * pass ran. */
  private[sinks] def maybeAutoCompact(spark: SparkSession, dir: String,
                                      newFiles: Seq[String]): Option[Int] = {
    val props = tableProperties(dir)
    props.get("compact.auto.files").map(_.toInt).filter(_ > 0).flatMap { t =>
      val target = props.get("compact.target.bytes").map(_.toLong)
        .getOrElse(DefaultCompactTargetBytes)
      val smallBytes = props.get("compact.small.bytes").map(_.toLong)
        .getOrElse(target / 2)
      val small = newFiles.count(f => io.size(f) < smallBytes)
      if (small == 0) None
      else {
        val cur =
          if (!io.exists(smallCountPath(dir))) 0L
          else io.readLines(smallCountPath(dir)).headOption
            .flatMap(_.toLongOption).getOrElse(0L)
        val acc = cur + small
        if (acc < t) { io.writeLines(smallCountPath(dir), Seq(acc.toString)); None }
        else {
          io.writeLines(smallCountPath(dir), Seq("0"))
          try Some(compact(spark, dir, target))
          catch {
            // covers SnapshotShapeConflict too (a declared subclass)
            case _: java.util.ConcurrentModificationException =>
              // someone else is mutating; restore the count so a later
              // landing retries — opportunistic maintenance must never
              // fail the landing that triggered it
              io.writeLines(smallCountPath(dir), Seq(acc.toString))
              None
          }
        }
      }
    }
  }

  private def analyzeDeltaDir(dir: String) =
    s"${manifestDir(dir)}/analyzecount.d"

  /** Rows landed since the last auto-ANALYZE, summed from the delta
    * ledger — the spec seam for the loss-free accumulation contract. */
  private[sinks] def analyzePendingRows(dir: String): Long =
    sumDeltas(analyzeDeltaDir(dir), io.list(analyzeDeltaDir(dir)))

  /** Sum of the named delta entries under `dd`. A delta a racer consumed
    * between our list and read counts as 0: the racer summed it,
    * crossed, and paid the ANALYZE on its side. */
  private def sumDeltas(dd: String, names: Seq[String]): Long =
    names.map { n =>
      scala.util.Try(io.readLines(s"$dd/$n").headOption
        .flatMap(_.toLongOption).getOrElse(0L)).getOrElse(0L)
    }.sum

  /** Landing-cadence auto-ANALYZE (the `stats.auto.rows` table
    * property) — the CBO-stats twin of [[maybeAutoCompact]], completing
    * the "maintenance rides the landing cadence" story: an advisory
    * counter next to the manifests accumulates rows landed since the
    * last ANALYZE, and the commit that crosses the threshold pays one
    * [[writeStats]] pass over the head (NDV + null counts + KLL
    * histograms for `stats.auto.cols`, falling back to the head's
    * already-tracked stat columns) and resets. Plans between refreshes
    * fall back to defaults — never wrong, just unpriced — so the
    * threshold trades planner freshness against the ANALYZE scan cost,
    * exactly the trade `stats.cbo=true` (every landing) and manual
    * `CALL write_stats` (operator cadence) bracket. Failures restore
    * the counter, log at warn, and never fail the landing that
    * triggered them. */
  private[sinks] def maybeAutoAnalyze(spark: SparkSession, dir: String,
                                      rowsLanded: Long): Unit = {
    val props = tableProperties(dir)
    props.get("stats.auto.rows").flatMap(_.toLongOption).filter(_ > 0)
      .foreach { t =>
        // Loss-free accumulation: each landing publishes its OWN delta
        // file (atomic create of a fresh name never contends), so two
        // racing committers cannot lose an increment the way a
        // read-modify-write of one counter file could. The crossing
        // landing consumes exactly the deltas it SUMMED — a racer's
        // concurrent delta survives the sweep and counts toward the
        // next cadence. Two committers may both observe a crossing and
        // both ANALYZE: the pass is idempotent over immutable files, so
        // the race costs a redundant (incremental, O(delta)) scan,
        // never a wrong counter. The counter stays advisory — it gates
        // WHEN stats refresh, never WHAT they say.
        val dd = analyzeDeltaDir(dir)
        io.mkdirs(dd)
        if (rowsLanded > 0)
          io.createExclusive(s"$dd/${java.util.UUID.randomUUID}",
            Seq(rowsLanded.toString))
        val names = io.list(dd)
        val acc = sumDeltas(dd, names)
        if (acc >= t) {
          names.foreach(n => io.delete(s"$dd/$n"))
          try {
            val head = versions(dir).last
            val cols = props.get("stats.auto.cols").toSeq
              .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) match {
              case Seq() => statColsOf(dir, head)
              case cs => cs
            }
            // incremental by design: only files missing their CBO lines
            // rescan; the kept per-file sketches fold identically (the
            // full-rescan door stays CALL write_stats)
            if (cols.nonEmpty)
              writeStats(spark, dir, head, cols, onlyMissing = true)
            else org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"stats.auto.rows is set on '$dir' but there are no " +
                "columns to ANALYZE — set stats.auto.cols or land " +
                "stats-tracked data first")
          } catch {
            case scala.util.control.NonFatal(e) =>
              // opportunistic maintenance never fails the landing; the
              // restored delta makes the next landing retry exactly
              io.createExclusive(s"$dd/${java.util.UUID.randomUUID}",
                Seq(acc.toString))
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"auto-ANALYZE of '$dir' failed; CBO stats stay stale " +
                  s"until the next landing or CALL write_stats: " +
                  s"${e.getMessage}")
          }
        }
      }
  }

  /** Retention-policy auto-expire (the `retention.keep.last` table
    * property): landing-time advisory GC completing the self-maintaining
    * table story (land → auto-compact → auto-expire). A pass only
    * triggers once the version count EXCEEDS the target by
    * `retention.expire.every` (default 16), so the expire's
    * O(retained-manifest) refcount sweep amortizes to 1/every per
    * landing — the trigger check itself is one version listing. The
    * retained floor is `max(keep, retention.txn.horizon)` (horizon
    * default 2): retention never expires past the streaming replay
    * window, so exactly-once ledgers survive policy GC by construction.
    * Every expire refusal (tag pins, unmaterialized equality deletes,
    * promoted head, branch dir) SKIPS silently here — opportunistic
    * maintenance runs a few landings late and must never fail or block
    * the landing that triggered it; the loud path remains `CALL expire`. */
  private[sinks] def maybeAutoExpire(dir: String): Unit = {
    val props = tableProperties(dir)
    props.get("retention.keep.last").flatMap(_.toIntOption).filter(_ >= 1)
      .foreach { keep =>
        val every = props.get("retention.expire.every")
          .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(16)
        val horizon = props.get("retention.txn.horizon")
          .flatMap(_.toIntOption).filter(_ >= 0).getOrElse(2)
        val floor = math.max(keep, horizon)
        // NonFatal, not just the require-refusals: an IO failure mid-
        // expire (file deletes) must not fail a commit() whose version
        // already published — opportunistic maintenance never fails the
        // landing; the loud, retryable path remains `CALL expire`
        if (versions(dir).size >= floor + every)
          try { expire(dir, floor, horizon); () }
          catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** Materialized-view auto-maintenance (the `mview.auto.refresh=true`
    * VIEW property): a mutation landing on a source table triggers the
    * O(delta) [[graft.sql.Mview.refreshView]] of each attached view that
    * opted in, so the transparent rewrite stays armed with no operator
    * chasing commits with `CALL refresh_view` — a forgotten manual
    * refresh is safe (stale views fall back to the base scan) but
    * silently unaccelerated; this closes that gap. Runs AFTER the
    * landing published (sidecar included): like auto-compact/auto-expire,
    * opportunistic maintenance must never fail or block the landing, so
    * refresh failures swallow (the next landing — or a manual CALL —
    * retries, and the fold-two-deltas contract makes that exact). The
    * thread-local guard stops attachment cycles (view→view chains
    * refresh one level per landing; a cycle would otherwise recurse
    * forever) and keeps the view's own state commit from re-entering. */
  private val autoRefreshing = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }
  private[graft] def maybeAutoRefresh(spark: SparkSession,
                                      dir: String): Unit = {
    val att = tableProperties(dir).get("mview.attached").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
    if (att.isEmpty) return
    val active = autoRefreshing.get()
    if (active(dir)) return
    att.foreach { view =>
      if (!active(view) && scala.util.Try(tableProperties(view)
          .get("mview.auto.refresh").contains("true")).getOrElse(false)) {
        autoRefreshing.set(active + dir + view)
        try graft.sql.Mview.refreshView(spark, view)
        catch {
          case scala.util.control.NonFatal(e) =>
            // swallow (maintenance never fails the landing) but SAY SO:
            // a view whose refresh persistently fails stays safely stale
            // yet permanently unaccelerated, and silence would hide it
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"mview auto-refresh of '$view' (attached to '$dir') " +
                s"failed; view stays stale until the next landing or a " +
                s"manual CALL refresh_view: ${e.getMessage}")
        }
        finally autoRefreshing.set(active)
      }
    }
  }

  // ---- declared schema (an OCC chain) and the retired-column ledger ----

  /** Declared table schema (SQL `CREATE TABLE` writes it; a table that
    * exists only as a declaration — no commits yet — still resolves in
    * the catalog with this schema). Stored as a MONOTONE CHAIN of
    * exclusively-created one-line JSON files (`schema/d1, d2, …`; the
    * highest index is current) so a concurrent redeclaration is a
    * first-wins RACE, not a silent overwrite: ALTER rides
    * [[casDeclareSchema]], which refuses when it lost — a plain
    * `writeLines` here was the catalog's last check-then-act door (two
    * concurrent ALTERs: the loser's change silently vanished). Superseded
    * chain entries are best-effort pruned behind a tail deep enough that
    * no concurrent reader's just-listed head can vanish before its read. */
  private def schemaChainDir(dir: String) = s"${manifestDir(dir)}/schema"

  /** Head of a monotone exclusive-create chain: (max index, its lines),
    * or (0, None) when the chain is empty. Retries the list+read when a
    * concurrent prune wins the race for a just-listed head (needs 8+
    * writes inside the window — the retry is a formality). The chain is
    * the engine's lost-update-proof primitive for SINGLETON metadata
    * (declaration, properties): every write claims the next index with
    * createExclusive, so concurrent writers get a decidable race
    * instead of a silent overwrite. */
  private def chainHead(chainDir: String,
                        pfx: String): (Int, Option[Seq[String]]) = {
    var attempt = 0
    while (true) {
      val ns = io.list(chainDir).filter(_.startsWith(pfx))
        .flatMap(n => scala.util.Try(n.drop(pfx.length).toInt).toOption)
      if (ns.isEmpty) return (0, None)
      val n = ns.max
      scala.util.Try(io.readLines(s"$chainDir/$pfx$n")).toOption match {
        case Some(lines) => return (n, Some(lines))
        case None => // head pruned between list and read: re-list
          attempt += 1
          require(attempt < 5,
            s"chain at $chainDir unreadable after $attempt attempts")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Best-effort tail prune, 8 entries deep — far past any concurrent
    * reader's just-listed head. */
  private def chainPrune(chainDir: String, pfx: String, upto: Int): Unit =
    io.list(chainDir).filter(_.startsWith(pfx))
      .flatMap(n => scala.util.Try(n.drop(pfx.length).toInt).toOption)
      .filter(_ <= upto - 8)
      .foreach(k => scala.util.Try(io.delete(s"$chainDir/$pfx$k")))

  private def chainState(dir: String): (Int, Option[String]) = {
    val (n, lines) = chainHead(schemaChainDir(dir), "d")
    (n, lines.flatMap(_.headOption))
  }

  /** Unconditional (re)declaration — CREATE/REPLACE, branch fork copy,
    * promote pinning, abort-restore: callers whose intent is "this IS
    * the schema now" regardless of what raced in between. */
  def declareSchema(dir: String, schemaJson: String): Unit = {
    io.mkdirs(schemaChainDir(dir))
    var n = chainState(dir)._1 + 1
    while (!io.createExclusive(s"${schemaChainDir(dir)}/d$n",
      Seq(schemaJson))) n += 1
    chainPrune(schemaChainDir(dir), "d", n)
  }

  /** Compare-and-swap declaration — the ALTER door: `expect` is the
    * declaration the change set was computed FROM (None = the table had
    * no declaration). Refuses loudly when the current declaration moved
    * or when a concurrent writer wins the chain slot, so no ALTER is
    * ever silently dropped; the caller re-reads and re-applies. */
  def casDeclareSchema(dir: String, expect: Option[String],
                       next: String): Unit = {
    val (n, cur) = chainState(dir)
    if (cur != expect)
      throw new java.util.ConcurrentModificationException(
        s"declaration at $dir changed while the ALTER was being " +
          "computed; re-run against the current schema")
    io.mkdirs(schemaChainDir(dir))
    if (!io.createExclusive(s"${schemaChainDir(dir)}/d${n + 1}", Seq(next)))
      throw new java.util.ConcurrentModificationException(
        s"a concurrent declaration landed at $dir during the ALTER; " +
          "re-run against the current schema")
    chainPrune(schemaChainDir(dir), "d", n + 1)
  }

  def declaredSchema(dir: String): Option[String] = chainState(dir)._2

  /** Retired-column ledger — one `<id>\t<physical>` entry per column
    * ever DROPped from the declared schema. ADD COLUMNS consults it so a
    * new column never re-addresses a physical name whose bytes still sit
    * in landed files (drop-then-re-add must serve typed nulls, not the
    * dropped column's stale values), and ids are never recycled.
    * Storage is APPEND-ONLY (one exclusively-created file per entry
    * under `retired.d/`) because the ledger's semantics are a SET UNION:
    * a read-modify-write of one file would silently drop an entry when
    * two DROPs raced — and a lost retirement is the dangerous
    * direction (a later ADD could reuse the physical name and serve the
    * dropped column's stale bytes). */
  private def retiredDir(dir: String) = s"${manifestDir(dir)}/retired.d"

  def retiredColumns(dir: String): Seq[(Long, String)] =
    io.list(retiredDir(dir)).flatMap { n =>
      io.readLines(s"${retiredDir(dir)}/$n").filter(_.nonEmpty).map { l =>
        val Array(id, phys) = l.split('\t')
        (id.toLong, phys)
      }
    }.distinct.sortBy(_._1)

  def retireColumn(dir: String, id: Long, physical: String): Unit = {
    io.mkdirs(retiredDir(dir))
    var k = 0
    while (!io.createExclusive(s"${retiredDir(dir)}/r$id-$k",
      Seq(s"$id\t$physical"))) k += 1
  }

  // ---- commit-time CHECK constraints (table expectations) ----

  private def constraintPath(dir: String, name: String) =
    s"$dir/constraints/${refName(name)}"

  /** Declare a CHECK constraint: `exprSql` (a boolean SQL expression over
    * the table's columns) must hold — SQL-standard semantics, TRUE or
    * NULL passes — for every row of every FUTURE commit, validated
    * against the landed batch files before the manifest publishes (a
    * violating commit never becomes visible; its files are ordinary
    * [[vacuumOrphans]] debris). Declaration itself scans the CURRENT
    * live table once and refuses if existing rows violate — a constraint
    * that is born broken enforces nothing. One file per constraint,
    * atomic create: re-declaring a name refuses. */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    exprSql: String, preValidated: Boolean = false): Unit = {
    // preValidated: the caller already scanned THIS head (the SQL path —
    // Spark's analyzer validates ADD CONSTRAINT against the resolved
    // snapshot and stamps its version); re-reading the same rows would
    // double the one unavoidable full scan a declaration costs at 100 TB
    if (!preValidated && versions(dir).nonEmpty) {
      val bad = read(spark, dir)
        .filter(!coalesce(expr(exprSql), lit(true))).count()
      require(bad == 0,
        s"cannot add constraint '$name' ($exprSql): $bad existing row(s) " +
          s"violate it")
    }
    io.mkdirs(s"$dir/constraints")
    require(io.createExclusive(constraintPath(dir, name), Seq(exprSql)),
      s"constraint '$name' already exists at $dir (dropConstraint first)")
  }

  def dropConstraint(dir: String, name: String): Unit =
    io.delete(constraintPath(dir, name))

  /** Declared constraints: name → boolean SQL expression. */
  def constraints(dir: String): Map[String, String] =
    io.list(s"$dir/constraints")
      .map(n => n -> io.readLines(s"$dir/constraints/$n").mkString("\n"))
      .toMap

  /** Validate freshly-written batch files against the table's
    * constraints — ONE columnar scan of the NEW files only (never the
    * table), all constraints folded into a single aggregate. Violations
    * throw with per-constraint counts; the unpublished files are left
    * for the orphan sweep, exactly like any crashed commit. */
  /** Does `dir` declare ANY commit gate a lineage-crossing landing
    * (promote, fast-forward) must validate — explicit CHECK
    * constraints, top-level NOT NULL, or nested NOT NULL? The guard
    * that keeps gate-free transfers metadata-only: building the live
    * view to validate costs a scan, so it is only built when a
    * declaration demands one. */
  private[sinks] def hasDeclaredGates(dir: String): Boolean =
    constraints(dir).nonEmpty || declaredSchema(dir).exists { j =>
      val sc = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sc.fields.exists(!_.nullable) || graft.sql.NestedNotNull.hasAny(sc)
    }

  private[sinks] def validateConstraints(spark: SparkSession, dir: String,
                                         newFiles: Seq[String],
                                         userBatch: Boolean = false): Unit =
    // gate-free tables skip the batch DataFrame outright: EVERY check
    // family (user CHECKs, NOT NULL, nested NOT NULL, nested defaults)
    // needs a declared schema or a declared constraint, and
    // spark.read.parquet() alone costs a driver-side file index + footer
    // schema read per commit — pure overhead on the common undeclared
    // table (r16; the wider guard than hasDeclaredGates because
    // nestedDefaultChecks also fires on defaulted-members-only schemas)
    if (newFiles.nonEmpty &&
        (constraints(dir).nonEmpty || declaredSchema(dir).isDefined))
      validateConstraintsDf(dir, spark.read.parquet(newFiles: _*),
        userBatch)

  /** `userBatch` = an append-door landing (full gates, including the
    * nested-default stored-NULL refusal). `foreignBatch` = a
    * lineage-CROSSING landing (promote, fast-forward): the batch is
    * another lineage's read, so the engine-rewrite exemption ("rewrites
    * carry the pinned declared shape") does NOT apply — an absent or
    * type-incompatible nested NOT NULL path must refuse exactly like a
    * user batch, or a staging lineage that simply omits a
    * destination-declared member would promote unseen and every
    * promoted row would read NULL at the declared path. Nested-default
    * checks stay off for foreign batches: a staged lineage's stored
    * NULL under a defaulted member can be a faithful pre-evolution
    * carry of ITS OWN history, which the coalesce read serves
    * correctly. */
  private[sinks] def validateConstraintsDf(dir: String, batch: DataFrame,
      userBatch: Boolean = false, foreignBatch: Boolean = false): Unit = {
    val cs = (constraints(dir).toSeq ++ notNullChecks(dir, batch) ++
        nestedNotNullChecks(dir, batch, userBatch || foreignBatch) ++
        (if (userBatch) nestedDefaultChecks(dir, batch) else Seq.empty))
      .sortBy(_._1)
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      // NULL passes (SQL CHECK semantics): only a definite FALSE counts
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val row = batch.agg(aggs.head, aggs.tail: _*).head()
    val violated = cs.zipWithIndex.collect {
      // sum over an empty batch is NULL: vacuously satisfied
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"'$n' ($e): ${row.getLong(i)} row(s)"
    }
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"commit to $dir rejected by CHECK constraint(s) " +
          s"${violated.mkString("; ")} — nothing published, the batch " +
          s"files are vacuumOrphans debris")
  }

  /** Declared NOT NULL columns as synthetic CHECK predicates, folded
    * into the SAME one-pass commit aggregate as user constraints — this
    * is what makes a `NOT NULL` declaration commit-ENFORCED rather than
    * advisory, which in turn is what lets TopN pushdown accept it as a
    * zero-null proof with no ANALYZE. Physical names: the batch files
    * carry them (writers rename logical→physical before landing). A
    * batch that doesn't carry the column at all serves the column's
    * EXISTS_DEFAULT on read — a non-null one satisfies the declaration
    * with no check to run; absent that, every row would read NULL, so
    * the commit refuses before scanning anything. */
  private def notNullChecks(dir: String,
                            batch: DataFrame): Seq[(String, String)] = {
    val declared = declaredSchema(dir) match {
      case Some(j) => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields.toSeq
      case None => return Seq.empty
    }
    val batchCols = batch.columns.map(_.toLowerCase).toSet
    declared.filterNot(_.nullable).flatMap { f =>
      val phys = graft.sql.ColumnMapping.physOf(f)
      if (batchCols.contains(phys.toLowerCase))
        Some(s"NOT NULL ${f.name}" -> s"`$phys` IS NOT NULL")
      else {
        val dflt = if (f.metadata.contains("EXISTS_DEFAULT"))
          Some(f.metadata.getString("EXISTS_DEFAULT")) else None
        // the default must EVALUATE non-null, not merely not spell
        // "NULL" — catalyst renders a typed null as `CAST(NULL AS INT)`,
        // which a string compare would wave through and every row of
        // this batch would then read NULL in a NOT NULL column (and
        // TopN's zero-null proof would be a lie). Unparseable or
        // unevaluable defaults fail CLOSED: refuse the commit.
        val nonNull = dflt.exists { sql =>
          scala.util.Try {
            SparkSession.active.sessionState.sqlParser
              .parseExpression(sql).eval(null) != null
          }.getOrElse(false)
        }
        require(nonNull,
          s"commit to $dir rejected: batch carries no column for " +
            s"declared NOT NULL '${f.name}' and the column has no " +
            "non-null default — every landed row would read NULL")
        None
      }
    }
  }

  /** Declared NESTED NOT NULL members as synthetic CHECK predicates —
    * the dotted-path twin of [[notNullChecks]], parent-null-guarded at
    * every level (a NULL parent satisfies the member declaration
    * vacuously; see [[graft.sql.NestedNotNull]]). Only UN-defaulted
    * members enforce raw: a member carrying an existence default
    * legitimately stores NULL in engine rewrites (the coalesce read
    * serves the default), and user batches storing NULL there are
    * already refused by [[nestedDefaultChecks]]. A USER batch missing
    * only the LEAF under a fully-present parent chain refuses up
    * front — every row whose parents are non-null would read NULL; but
    * a batch missing an ANCESTOR (a nullable parent struct column
    * omitted entirely, which [[notNullChecks]] permits) reads a NULL
    * parent on every row and satisfies the member declaration
    * vacuously — skipped, exactly as a carried NULL parent is. Engine
    * rewrites always carry the declared physical shape (the a43738c
    * schema pin), so any absent path there is a pinned-vintage carry,
    * skipped. */
  private def nestedNotNullChecks(dir: String, batch: DataFrame,
                                  userBatch: Boolean)
      : Seq[(String, String)] = {
    val logical = declaredSchema(dir) match {
      case Some(j) => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      case None => return Seq.empty
    }
    val nn = graft.sql.NestedNotNull
    if (!nn.hasAny(logical)) return Seq.empty
    nn.paths(logical).filter(nn.undefaulted(logical, _)).flatMap { p =>
      nn.firstBreak(batch.schema, logical, p) match {
        case None =>
          Some(s"nested NOT NULL ${p.mkString(".")}" ->
            nn.predicate(logical, p))
        case Some((i, true)) =>
          // the batch CARRIES a value at segment i of a structurally
          // incompatible kind — NOT a vacuous NULL parent; a user batch
          // the table can't serve must refuse here, not silently skip
          // the gate (engine rewrites carry the pinned declared shape,
          // so a mismatch there is a vintage carry, never user data)
          require(!userBatch,
            s"commit to $dir rejected: batch carries a type-" +
              s"incompatible value at segment ${i + 1} of declared " +
              s"nested NOT NULL path '${p.mkString(".")}' — not a " +
              "vacuous NULL parent; fix the batch schema")
          None
        case Some((i, _)) if i == p.length - 1 =>
          // leaf absent under a fully-present parent chain: every row
          // whose parents are non-null would read NULL — refuse (user
          // batches only; engine rewrites carry pinned vintages)
          require(!userBatch,
            s"commit to $dir rejected: batch carries no member for " +
              s"declared nested NOT NULL '${p.mkString(".")}' — every " +
              "row under a non-null parent would read NULL")
          None
        case Some(_) =>
          // an ANCESTOR is absent: every row reads a NULL parent, which
          // satisfies the member declaration vacuously (same as a
          // carried NULL parent) — nothing to enforce
          None
      }
    }
  }

  /** Nested existence defaults as synthetic CHECK predicates for USER
    * batches (the append doors only): a stored NULL in a defaulted
    * member under a non-null parent is indistinguishable per-file from
    * an absent member, so it would silently READ BACK as the default —
    * refuse the write instead of serving the lie. Engine rewrite paths
    * (compaction, COW DML carrying pre-evolution rows forward) are
    * exempt by the userBatch flag: there a stored NULL is the faithful
    * carry of a pre-evolution row, and the coalesce read serves its
    * default correctly (see [[graft.sql.NestedDefaults]]). Physical
    * names throughout (batch files carry them); a batch lacking the
    * path entirely skips — the absent member serves its default. */
  private def nestedDefaultChecks(dir: String,
                                  batch: DataFrame): Seq[(String, String)] = {
    if (statsSubstitution(dir).isEmpty) return Seq.empty
    val logical = declaredSchema(dir).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).get
    // the enforcement predicate is EXACTLY the nested-NOT-NULL shape
    // (parents — struct, array element, map value — IS NULL at any
    // level, OR the leaf IS NOT NULL), so the two gates share one
    // generator; presence is checked structurally so a pinned-vintage
    // engine frame lacking the member skips (its absence serves the
    // default at read, which is the faithful carry)
    graft.sql.NestedDefaults.paths(logical).flatMap { case (logPath, _, _) =>
      if (!graft.sql.NestedNotNull.presentIn(batch.schema, logical, logPath))
        None
      else
        Some(s"nested DEFAULT ${logPath.mkString(".")}" ->
          graft.sql.NestedNotNull.predicate(logical, logPath))
    }
  }
}
