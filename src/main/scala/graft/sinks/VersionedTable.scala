package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType,
  NumericType, StringType, StructType}

import graft.analytics.Parity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Versioned landed table — snapshot isolation, time travel, and rollback
  * via a manifest log: the core protocol of every lake table format
  * (Iceberg's snapshot list, Delta's transaction log), reduced to its
  * engine-native essentials, because a 100 TB landing that only ever
  * appends files in place has no consistent answer to "what did the table
  * contain when yesterday's training job started?".
  *
  * Protocol:
  * - data files are IMMUTABLE parquet, written once under `data/`, never
  *   modified, never deleted by commits;
  * - a snapshot is a manifest (`manifests/v{N}`) listing its data files,
  *   one path per line;
  * - a commit writes data files first, then publishes the manifest with
  *   ONE atomic create ([[TableIO.createExclusive]]) — optimistic
  *   concurrency: if v{N} already exists (a concurrent writer won), an
  *   APPEND commit re-resolves the head and republishes the NEW head's
  *   file list plus its own files ([[publishOnHead]]), so the loser's
  *   retry carries the winner's rows forward — retrying with the stale
  *   base would silently drop the winner's files from the head lineage
  *   (and expiration would then delete them); nothing is ever overwritten;
  * - a reader resolves a manifest ONCE (latest, or a pinned version) and
  *   reads exactly its files — a commit racing the read cannot tear it,
  *   because the files a manifest references are immutable;
  * - rollback is just a NEW manifest pointing at an old file set — history
  *   is append-only, so the bad version stays inspectable.
  *
  * File deletion is a separate, orthogonal GC ("expire snapshots older
  * than N") that removes files referenced by no retained manifest — the
  * same separation the real formats make.
  *
  * Row-level deletes are merge-on-read: [[deleteWhere]] lands positional
  * delete vectors (`#del=` manifest lines) that readers anti-join at scan
  * time, [[compact]] materializes them into rewritten files, and [[expire]]
  * GCs the superseded vectors — data files stay immutable throughout.
  *
  * All metadata IO goes through a [[TableIO]]: `java.nio` + hard links
  * locally, Hadoop `FileSystem` where a real landing lives. The default
  * [[VersionedTable]] object binds the local backend; bind
  * `new VersionedTableOps(new HadoopTableIO(conf))` for the rest.
  */
/** A maintenance-time conflict a mechanical re-run resolves: the
  * snapshot's SHAPE moved underneath the op — vectors landed or were
  * consolidated, equality deletes appeared that the rewrite itself can
  * materialize. Distinct from DATA conflicts (a concurrent append
  * touching a MERGE source key, an equality delete a MERGE must not
  * reason about), which abort immediately and stay aborted: blindly
  * re-running those could serialize a stale read-modify-write over newer
  * data. Subclasses ConcurrentModificationException so callers catching
  * the loud-abort contract keep working. */
class SnapshotShapeConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

/** One action of a [[VersionedTableOps.mergeInto]] WHEN clause.
  * Assignment values and clause conditions address the joined row as
  * `__t_<col>` (target) / `__s_<col>` (source); assignment keys are
  * plain target column names. */
sealed trait MergeAction
final case class MergeUpdate(set: Map[String, Column]) extends MergeAction
case object MergeDelete extends MergeAction
final case class MergeInsert(values: Map[String, Column]) extends MergeAction

/** `WHEN <kind> [AND condition] THEN <action>` — clauses apply in order,
  * first satisfied condition wins (None = unconditional). */
final case class MergeClause(condition: Option[Column], action: MergeAction)

class VersionedTableOps(protected val io: TableIO) {

  protected def manifestDir(dir: String): String = s"$dir/manifests"
  private def manifestPath(dir: String, v: Int) = s"${manifestDir(dir)}/v$v"
  private def statsPath(dir: String, v: Int) = s"${manifestDir(dir)}/s$v"
  private def segsDir(dir: String) = s"${manifestDir(dir)}/segs"

  // ── Segmented metadata ────────────────────────────────────────────────
  // A manifest (v{N}) or stats sidecar (s{N}) may reference immutable
  // SEGMENT files (`#seg=<path>` lines, one level deep — segments never
  // nest) instead of inlining every bulk line. This is what keeps commit
  // metadata O(batch) instead of O(table): at 100 TB / ~1M files, an
  // inline manifest is a million-line rewrite PER APPEND, and the whole
  // metadata path collapses under its own weight long before the data
  // does (the same reason Iceberg splits snapshots into manifest files
  // behind a manifest list). Rules:
  //  - segments carry ONLY bulk payload (data-file path lines in manifest
  //    segments; stats lines in sidecar segments) — every `#`-prefixed
  //    header (#txn/#ts/#del/#eqdel/#fork/#promoted) stays inline in the
  //    version file, so prefix parsers read the tiny version file raw;
  //  - segments are content-immutable and UUID-named: shared freely
  //    across versions and lineages (a branch fork is O(pointers)), and
  //    safe to cache by path;
  //  - a pure append / merge-on-read delete carries the head's pointers
  //    verbatim and adds ONE new segment; shape-changing rewrites
  //    (compact, COW merge, overwrite) write their file list inline and
  //    the next append folds it into a segment;
  //  - GC: [[expire]] deletes segments referenced by no retained version
  //    (branch refs pin), [[vacuumOrphans]] sweeps never-published ones.
  private val SegPrefix = "#seg="
  private def segRef(l: String): Boolean = l.startsWith(SegPrefix)

  /** Per-commit fold thresholds (overridable per table via properties
    * `manifest.fold.inline` / `manifest.fold.segs`): inline bulk lines
    * at/over the first fold into one segment; a pointer list at/over the
    * second folds ALL segments into one — so manifest size is bounded by
    * O(fold.segs) pointers and the amortized fold cost per commit is
    * O(files / fold.segs) lines, not O(files). */
  private def foldInlineAt(dir: String): Int =
    tableProperties(dir).get("manifest.fold.inline").map(_.toInt)
      .getOrElse(128)
  private def foldSegsAt(dir: String): Int =
    tableProperties(dir).get("manifest.fold.segs").map(_.toInt)
      .getOrElse(64)

  /** Segments are immutable from birth (UUID-named, written before any
    * pointer publishes), so a by-path cache is sound forever; bounded by
    * wholesale clear — entries are re-readable from disk. */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val SegCacheMax = 4096

  private def readSegment(path: String): Seq[String] = {
    val hit = segCache.get(path)
    if (hit != null) hit
    else {
      val lines = io.readLines(path)
      if (segCache.size >= SegCacheMax) segCache.clear()
      segCache.put(path, lines)
      lines
    }
  }

  /** Write `lines` as a new immutable segment of `dir`; returns its path.
    * Crash after this write but before any pointer publish leaves an
    * unreferenced file [[vacuumOrphans]] sweeps — same contract as an
    * unpublished data batch. */
  private def writeSegment(dir: String, lines: Seq[String]): String = {
    require(!lines.exists(segRef), "segments must not nest")
    require(!lines.exists(_.startsWith("#rows=")),
      "row-total headers live in the raw sidecar only (readers never " +
        "open segments to find them)")
    io.mkdirs(segsDir(dir))
    val p = s"${segsDir(dir)}/${java.util.UUID.randomUUID}"
    io.writeLines(p, lines)
    segCache.put(p, lines)
    p
  }

  /** A pointer line's fields: the segment path, then OPTIONAL covering
    * ranges — `(col, tag, lo, hi)` groups of four, tab-separated after
    * the path. A cover is a TRUE enclosure of every payload file's range
    * for that column (the Iceberg manifest-list summary): planning may
    * drop the whole segment unread when a cover is provably disjoint
    * with a pushed predicate, which is what turns selective planning
    * from O(table files) into O(matching segments). Absent cover =
    * always expand — the superset guarantee never depends on covers. */
  private def segPath(l: String): String =
    l.drop(SegPrefix.length).takeWhile(_ != '\t')
  private def segCovers(l: String): Map[String, (String, String, String)] =
    l.drop(SegPrefix.length).split('\t').drop(1).grouped(4).collect {
      case Array(c, tag, lo, hi) => c -> ((tag, lo, hi))
    }.toMap

  private def coverSuffix(covers: Map[String, (String, String, String)])
      : String =
    covers.toSeq.sortBy(_._1).map { case (c, (tag, lo, hi)) =>
      s"\t$c\t$tag\t$lo\t$hi"
    }.mkString

  /** Covering ranges of a stats payload: `col → (tag, lo, hi)` for every
    * column where EVERY distinct data-file path in the payload carries a
    * usable (`num`|`str`, single-tag) range line — a file with a `null`/
    * `wild` tag or no line for the column voids that column's cover (its
    * values are unbounded as far as the summary can claim). Paths under
    * `deletes/` are vector files, not data — they void covers too (their
    * presence means the payload mixes kinds; stay conservative). */
  private def coversOf(payload: Seq[String])
      : Map[String, (String, String, String)] = {
    val parsed = payload.map(_.split('\t'))
    val paths = parsed.collect { case a if a.length >= 3 => a(0) }.distinct
    if (paths.isEmpty || paths.exists(_.contains("/deletes/")))
      return Map.empty
    val byCol = parsed.collect {
      case a if a.length == 5 && a(1) != "#" && RangeTags(a(2)) =>
        (a(1), (a(0), a(2), a(3), a(4)))
    }.groupBy(_._1)
    byCol.flatMap { case (c, entries) =>
      val rows = entries.map(_._2)
      val tags = rows.map(_._2).distinct
      if (rows.map(_._1).distinct.size != paths.size) None
      else tags match {
        case Seq("num") =>
          try Some(c -> (("num",
            rows.map(r => BigDecimal(r._3)).min.toString,
            rows.map(r => BigDecimal(r._4)).max.toString)))
          catch { case _: NumberFormatException => None }
        case Seq("str") =>
          // UTF-8 order (Spark's collation), not Java's — a UTF-16 fold
          // could claim a cover NARROWER than the true extremes, and
          // covers gate segment-level pruning (dropped unread)
          Some(c -> (("str",
            rows.map(_._3).minBy(StatValue.decodeStr)(StatValue.utf8Ord),
            rows.map(_._4).maxBy(StatValue.decodeStr)(StatValue.utf8Ord))))
        case _ => None
      }
    }
  }

  /** Union of pointer covers — the fold-time summary: valid only when
    * every folded pointer covers the column (with one tag); any inline
    * line (unknown files) voids everything. */
  private def unionCovers(ptrs: Seq[String], hasInline: Boolean)
      : Map[String, (String, String, String)] = {
    if (hasInline || ptrs.isEmpty) return Map.empty
    val all = ptrs.map(segCovers)
    val shared = all.map(_.keySet).reduce(_ intersect _)
    shared.flatMap { c =>
      val cs = all.map(_(c))
      cs.map(_._1).distinct match {
        case Seq("num") =>
          try Some(c -> (("num",
            cs.map(x => BigDecimal(x._2)).min.toString,
            cs.map(x => BigDecimal(x._3)).max.toString)))
          catch { case _: NumberFormatException => None }
        case Seq("str") =>
          Some(c -> (("str",
            cs.map(_._2).minBy(StatValue.decodeStr)(StatValue.utf8Ord),
            cs.map(_._3).maxBy(StatValue.decodeStr)(StatValue.utf8Ord))))
        case _ => None
      }
    }.toMap
  }

  /** Splice segment payloads in place of their pointers (one level). */
  /** Bounded pool for concurrent segment fetches (daemon threads — a
    * planning helper must never pin the JVM). On a remote object store
    * the cold-expansion latency of a wide snapshot becomes the SLOWEST
    * segment fetch instead of the sum. */
  private lazy val segFetchPool =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "graft-seg-fetch")
        t.setDaemon(true); t
      })

  private def expandSegs(lines: Seq[String]): Seq[String] =
    if (!lines.exists(segRef)) lines
    else {
      // warm the cache for every COLD pointer concurrently, then splice
      // in order (readSegment is cache-hit for all of them); a single
      // cold segment skips the pool round-trip
      val cold = lines.filter(segRef).map(segPath).distinct
        .filter(p => segCache.get(p) == null)
      if (cold.size > 1)
        cold.map(p => java.util.concurrent.CompletableFuture.runAsync(
          () => { readSegment(p); () }, segFetchPool))
          .foreach(_.join())
      lines.flatMap { l =>
        if (segRef(l)) readSegment(segPath(l)) else Seq(l)
      }
    }

  /** The version's manifest with segments spliced in — what every
    * file-list consumer reads. Prefix parsers (#txn/#del/…) keep reading
    * the raw version file: headers never live in segments. */
  private[graft] def manifestLines(dir: String, v: Int): Seq[String] =
    expandSegs(io.readLines(manifestPath(dir, v)))

  /** The version's stats sidecar PAYLOAD with segments spliced in (empty
    * when absent) — what every stats consumer reads. The `#rows=` totals
    * header is metadata about the payload, not payload: it is excluded
    * here and read via [[rowsHeaderOf]] (raw, O(1)) instead. */
  /** Max files per statsLines aggregate pass — see the chunking note
    * there. 512 rows × ~25 KB of sketches ≈ 12 MB per collect.
    * Private behind [[withStatsChunkFiles]] so the chunked path is
    * spec-testable at toy scale without exposing a bare mutable knob. */
  private var StatsChunkFiles = 512

  /** Test seam: run `f` with the chunk size overridden, always
    * restoring — the only sanctioned way to mutate [[StatsChunkFiles]]. */
  private[sinks] def withStatsChunkFiles[T](n: Int)(f: => T): T = {
    require(n > 0, s"chunk size must be positive, got $n")
    val prev = StatsChunkFiles
    StatsChunkFiles = n
    try f finally StatsChunkFiles = prev
  }

  private[graft] def sidecarLines(dir: String, v: Int): Seq[String] = {
    val p = statsPath(dir, v)
    if (!io.exists(p)) Seq.empty
    else expandSegs(io.readLines(p))
      .filterNot(_.startsWith("#rows="))
  }

  /** Segment paths version `v` references (manifest AND sidecar) — the
    * GC reference set. */
  private def segRefsOf(dir: String, v: Int): Seq[String] = {
    val m = io.readLines(manifestPath(dir, v))
      .collect { case l if segRef(l) => segPath(l) }
    val sp = statsPath(dir, v)
    val s = if (!io.exists(sp)) Seq.empty
      else io.readLines(sp)
        .collect { case l if segRef(l) => segPath(l) }
    m ++ s
  }

  /** RAW carry of the head's manifest from ONE read of it: the
    * `#schema=` header settled by [[schemaHeader]] against `added` (the
    * physical schemas of the data files the publish lands), the head's
    * row-erasure lines (`#del=`, `#eqdel=` — they reference the carried
    * files), then its bulk content — existing `#seg=` pointers verbatim
    * plus inline data-file lines, folding per the table's thresholds.
    * Sound exactly when the new snapshot keeps EVERY head data file
    * (appends, merge-on-read deletes); a rewrite that drops or replaces
    * files must build its list inline instead. */
  private def carryManifest(dir: String, h: Option[Int],
                            added: Seq[StructType]): Seq[String] = {
    val raw = h.toSeq.flatMap(rawManifest(dir, _))
    schemaHeader(raw, added, replacesAll = false) ++
      raw.filter(l => l.startsWith("#del=") || l.startsWith("#eqdel=")) ++
      foldCarry(dir,
        raw.filter(segRef),
        raw.filter(l => l.nonEmpty && !l.startsWith("#")))
  }

  /** RAW carry of the head's sidecar (pointers + inline payload, folded).
    * Same soundness condition as [[carryManifest]]: nothing removed. */
  private def carrySidecar(dir: String, h: Option[Int]): Seq[String] =
    h.toSeq.flatMap { hv =>
      val sp = statsPath(dir, hv)
      if (!io.exists(sp)) Seq.empty
      else {
        // the row-total header NEVER carries implicitly: the committing
        // op re-emits a freshly-maintained one or none at all
        val raw = io.readLines(sp)
          .filterNot(_.startsWith(RowsHeaderPrefix))
        foldCarry(dir, raw.filter(segRef),
          raw.filterNot(l => segRef(l) || l.isEmpty))
      }
    }

  /** Carry the head's bulk manifest (`raw`) MINUS `removed`, preserving
    * untouched segments: a pointer none of whose payload files is
    * removed carries verbatim (covers and all); a touched segment
    * re-lands as its filtered remainder under the ORIGINAL cover (a
    * cover is an enclosure — still true of any subset); inline lines
    * filter in place. Rewrite metadata cost becomes O(affected
    * segments + batch), never O(table files).
    *
    * `mustExist` (the rewrite's DATA file set) guards the two-rewrites
    * race: if a concurrent compact/zorder/merge already replaced one of
    * these files, carrying on would land this rewrite's consolidated
    * copy NEXT TO the winner's — the same rows twice. Absence throws
    * [[SnapshotShapeConflict]]; the caller's bounded OCC retry recomputes
    * against the new head. Delete-vector members of `removed` are
    * validated separately by [[publishRewrite]]'s dels-unchanged check (they
    * live on `#del=` lines this carry never touches). The `#schema=`
    * header is settled as in [[carryManifest]]; a rewrite that keeps no
    * head file takes the schema of what it lands. */
  private def carryManifestExcept(dir: String, raw: Seq[String],
      removed: Set[String], mustExist: Set[String],
      added: Seq[StructType]): Seq[String] = {
    val found = scala.collection.mutable.Set.empty[String]
    val lines = raw.flatMap { l =>
      if (segRef(l)) {
        val payload = readSegment(segPath(l))
        if (!payload.exists(removed)) Seq(l)
        else {
          val (hit, kept) = payload.partition(removed)
          found ++= hit
          if (kept.isEmpty) Seq.empty
          else {
            val suffix = l.drop(SegPrefix.length).dropWhile(_ != '\t')
            Seq(SegPrefix + writeSegment(dir, kept) + suffix)
          }
        }
      } else if (l.nonEmpty && !l.startsWith("#")) {
        if (removed(l)) { found += l; Seq.empty } else Seq(l)
      } else Seq.empty
    }
    val missing = mustExist -- found
    if (missing.nonEmpty)
      throw new SnapshotShapeConflict(
        s"${missing.size} file(s) of this rewrite's set are no longer " +
          "in the head (a concurrent rewrite landed them); re-run " +
          "against the new head")
    schemaHeader(raw, added, replacesAll = lines.isEmpty) ++ lines
  }

  /** Sidecar twin of [[carryManifestExcept]]: stats lines keyed by a
    * removed path drop (touched segments re-land as remainders with
    * recomputed covers; untouched pointers carry verbatim), and the
    * DROPPED `rows` lines come back as a map — the ingredients the
    * rewrite's incremental totals header needs, collected from exactly
    * the segments the carry expanded anyway. */
  private def carrySidecarExcept(dir: String, h: Option[Int],
      removed: Set[String]): (Seq[String], Map[String, Long]) = {
    val droppedRows = scala.collection.mutable.Map.empty[String, Long]
    def keyOf(x: String) = x.takeWhile(_ != '\t')
    def recordDrops(xs: Seq[String]): Unit =
      xs.iterator.map(_.split('\t').toSeq).foreach {
        case Seq(f, "#", "rows", n, _) => droppedRows(f) = n.toLong
        case _ => ()
      }
    val lines = h.toSeq.flatMap { hv =>
      val sp = statsPath(dir, hv)
      if (!io.exists(sp)) Seq.empty
      else io.readLines(sp)
        .filterNot(_.startsWith(RowsHeaderPrefix)).flatMap { l =>
          if (segRef(l)) {
            val payload = readSegment(segPath(l))
            val (drop, kept) = payload.partition(x => removed(keyOf(x)))
            if (drop.isEmpty) Seq(l)
            else {
              recordDrops(drop)
              if (kept.isEmpty) Seq.empty
              else Seq(SegPrefix + writeSegment(dir, kept) +
                coverSuffix(coversOf(kept)))
            }
          } else if (l.isEmpty) Seq.empty
          else if (removed(keyOf(l))) { recordDrops(Seq(l)); Seq.empty }
          else Seq(l)
        }
    }
    (lines, droppedRows.toMap)
  }

  /** Incremental totals for a rewrite commit: head totals minus the
    * dropped files' recorded rows plus the fresh batch's. Absent when
    * any removed file's rows were never recorded — a total that cannot
    * be adjusted exactly is omitted, never approximated. */
  private def rewriteHeader(dir: String, h: Option[Int],
      removedData: Set[String], removedDel: Set[String],
      droppedRows: Map[String, Long],
      newDataRows: Long, newDelRows: Long): Seq[String] =
    headerOrUpgrade(dir, h) match {
      case Some((d, del))
          if (removedData.iterator ++ removedDel.iterator)
            .forall(droppedRows.contains) =>
        Seq(rowsHeaderLine(
          d - removedData.iterator.map(droppedRows).sum + newDataRows,
          del - removedDel.iterator.map(droppedRows).sum + newDelRows))
      case _ => Seq.empty
    }

  private def foldCarry(dir: String, segs: Seq[String],
                        inline: Seq[String]): Seq[String] = {
    // folded-inline covers come from the payload itself (stats lines
    // yield real covers; bare file paths yield none — coversOf is shape-
    // aware), so folding never loses what pruning could still skip
    val inl =
      if (inline.nonEmpty && inline.length >= foldInlineAt(dir))
        Seq(SegPrefix + writeSegment(dir, inline) +
          coverSuffix(coversOf(inline)))
      else inline
    val carry = segs ++ inl
    if (carry.count(segRef) >= foldSegsAt(dir)) {
      val hasInline = carry.exists(l => !segRef(l))
      val merged = expandSegs(carry).filter(_.nonEmpty)
      val cov =
        if (hasInline) coversOf(merged)
        else unionCovers(carry.filter(segRef), hasInline = false)
      Seq(SegPrefix + writeSegment(dir, merged) + coverSuffix(cov))
    } else carry
  }

  /** Bulk payload of one fresh batch as a pointer line (payload lands in
    * a new segment) — the O(batch) half of a segmented commit. `covers`
    * ride the pointer so planning can skip the segment unread. Empty
    * payload stays inline-empty (no zero-line segments). */
  private def segLine(dir: String, payload: Seq[String],
                      covers: Map[String, (String, String, String)] =
                        Map.empty): Seq[String] =
    if (payload.isEmpty) Seq.empty
    else Seq(SegPrefix + writeSegment(dir, payload) + coverSuffix(covers))

  // ── Snapshot row totals ───────────────────────────────────────────────
  // `#rows=<dataRows>\t<delRows>` sidecar header: the snapshot's exact
  // live-count ingredients, maintained INCREMENTALLY by every commit path
  // (append adds its batch, a delete adds its vector's rows, a rewrite
  // re-derives from the complete stats it already holds) — the snapshot-
  // summary move. COUNT(*) and plan-time statistics then read ONE raw
  // header line instead of folding O(table-files) rows lines. The header
  // lives ONLY in the raw sidecar (never inside a segment), is stripped
  // by every carry (a stale total must never ride implicitly), and its
  // ABSENCE is always legal: legacy tables and incomplete rows coverage
  // fall back to the per-file fold, exactness preserved either way.
  private val RowsHeaderPrefix = "#rows="
  private def rowsHeaderLine(data: Long, del: Long): String =
    s"$RowsHeaderPrefix$data\t$del"

  /** The recorded (dataRows, delVectorRows) totals of a version, if its
    * sidecar carries the header. Raw read — O(pointers), no segment IO. */
  private[graft] def rowsHeaderOf(dir: String, v: Int): Option[(Long, Long)] = {
    val p = statsPath(dir, v)
    if (!io.exists(p)) None
    else io.readLines(p).collectFirst {
      case l if l.startsWith(RowsHeaderPrefix) =>
        val a = l.drop(RowsHeaderPrefix.length).split('\t')
        (a(0).toLong, a(1).toLong)
    }
  }

  /** Totals of a head being carried forward: the recorded header, or —
    * for a pre-header table — ONE upgrade fold over the sidecar when its
    * rows coverage is complete (None otherwise; never footer IO here, an
    * append must stay metadata-cheap). */
  private def headerOrUpgrade(dir: String,
                              h: Option[Int]): Option[(Long, Long)] =
    h.flatMap { hv =>
      rowsHeaderOf(dir, hv).orElse {
        val rows = rowsOf(dir, hv)
        val fs = filesOf(dir, hv)
        val dels = delFilesOf(dir, hv)
        if ((fs.iterator ++ dels.iterator).forall(rows.contains))
          Some((fs.iterator.map(rows).sum, dels.iterator.map(rows).sum))
        else None
      }
    }

  /** Sum of the `rows` pseudo-column lines in a stats payload. */
  private def sumRows(lines: Seq[String]): Long =
    lines.iterator.map(_.split('\t').toSeq).collect {
      case Seq(_, "#", "rows", n, _) => n.toLong
    }.sum

  /** Header for a REWRITE path's freshly-built sidecar `lines`: derived
    * iff they cover every data and delete file of the just-published
    * version (they do whenever stats maintenance is intact; absence
    * degrades to the fold, never to a wrong count). */
  private def derivedHeader(dir: String, v: Int,
                            lines: Seq[String]): Seq[String] = {
    val rows = lines.iterator.map(_.split('\t').toSeq).collect {
      case Seq(f, "#", "rows", n, _) => f -> n.toLong
    }.toMap
    val fs = filesOf(dir, v)
    val dels = delFilesOf(dir, v)
    if ((fs.iterator ++ dels.iterator).forall(rows.contains))
      Seq(rowsHeaderLine(fs.iterator.map(rows).sum,
        dels.iterator.map(rows).sum))
    else Seq.empty
  }

  /** Bounded retry-against-the-new-head for maintenance ops: every
    * attempt starts from a fresh head resolve, so a
    * [[SnapshotShapeConflict]] just means "go again on the new state" —
    * a busy landing should not need operator babysitting to compact. The
    * bound keeps a hot conflict loop from livelocking silently; the last
    * conflict is rethrown loud. */
  private def retryingShape[T](attempts: Int)(op: => T): T = {
    var tries = 1
    while (true) {
      try return op
      catch {
        case e: SnapshotShapeConflict =>
          if (tries >= attempts) throw e
          tries += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit wall clock (epoch millis) — a seam so specs can inject a
    * deterministic clock instead of sleeping around real time. */
  protected def now(): Long = System.currentTimeMillis()

  /** Committed versions, ascending (empty if the table doesn't exist). */
  def versions(dir: String): Seq[Int] =
    io.list(manifestDir(dir))
      .collect { case s if s.startsWith("v") => s.drop(1).toInt }
      .sorted

  // ---- directory seam for the SQL catalog (enumeration + DROP TABLE) ----

  /** Immediate child NAMES of `dir` (empty if missing). */
  private[graft] def childNames(dir: String): Seq[String] = io.list(dir)

  private[graft] def isDirectory(path: String): Boolean = io.isDir(path)

  private[graft] def makeDirs(path: String): Unit = io.mkdirs(path)

  /** Recursively delete `dir` — the DROP TABLE purge for catalog-managed
    * tables (manifests, sidecars, segments, data files, branch lineages).
    * Depth-first through the TableIO seam so it works on any backend. */
  private[graft] def purgeDir(dir: String): Unit = {
    if (io.isDir(dir)) io.list(dir).foreach(n => purgeDir(s"$dir/$n"))
    io.delete(dir)
  }

  // `#`-prefixed manifest lines are metadata headers (e.g. the transaction
  // id a streaming commit carries), never file paths.
  // private[sinks]: specs pin per-version file sets (e.g. "the
  // incremental ANALYZE scanned exactly the files this window landed").
  private[sinks] def filesOf(dir: String, version: Int): Seq[String] =
    filesIn(rawManifest(dir, version))

  /** A version's manifest exactly as stored: headers, segment pointers
    * and inline paths. The `…In(raw)` parsers below work on these lines,
    * so a read that needs the file list, the delete state and the
    * physical schema opens the manifest once. */
  private def rawManifest(dir: String, version: Int): Seq[String] =
    io.readLines(manifestPath(dir, version))

  private def filesIn(raw: Seq[String]): Seq[String] =
    expandSegs(raw).filter(l => l.nonEmpty && !l.startsWith("#"))

  private def delsIn(raw: Seq[String]): Seq[String] =
    raw.collect { case l if l.startsWith("#del=") => l.drop(5) }

  private def eqDelsIn(raw: Seq[String]): Seq[(Int, String, String)] =
    raw.collect {
      case l if l.startsWith("#eqdel=") =>
        val Array(s, c, p) = l.drop(7).split('\t')
        (s.toInt, c, p)
    }

  // ── Physical schema header ────────────────────────────────────────────
  // `#schema=<StructType json>`: the physical schema of EVERY live data
  // file of the version, nullability relaxed the way every parquet read
  // serves it. It is what Delta and Iceberg keep in the table log, so a
  // reader never samples a footer (one Spark job per inference) to learn
  // the table's shape. Invariant: header present ⇒ every live file's
  // footer carries exactly this schema. A publish keeps it by induction
  // ([[schemaHeader]]): the head carried the same header and the publish
  // lands files of that schema (or none), or the publish replaces every
  // file. A batch of any other schema (an evolving append, a re-typed
  // column) publishes NO header and the table reads by inference exactly
  // as before — as do tables written before the header existed.
  private val SchemaPrefix = "#schema="

  private def schemaIn(raw: Seq[String]): Option[StructType] =
    raw.collectFirst {
      case l if l.startsWith(SchemaPrefix) =>
        DataType.fromJson(l.drop(SchemaPrefix.length)).asInstanceOf[StructType]
    }

  /** The physical schema a batch written from `df` carries in its
    * footers, as a parquet read serves it. */
  private def physOf(df: DataFrame): StructType = relaxed(df.schema)

  /** The `#schema=` header line of a publish built on a head whose raw
    * manifest is `headRaw` (empty = no head). `added` holds the physical
    * schemas of the data files the publish lands (empty = none);
    * `replacesAll` is true when no head data file stays live. The header
    * survives only while every live file is known to match it. */
  private def schemaHeader(headRaw: Seq[String],
                           added: Seq[StructType],
                           replacesAll: Boolean): Seq[String] = {
    val noHeadFiles = replacesAll ||
      !headRaw.exists(l => segRef(l) || (l.nonEmpty && !l.startsWith("#")))
    val s =
      if (noHeadFiles) added.distinct match {
        case Seq(one) => Some(one)
        case _ => None
      }
      else schemaIn(headRaw).filter(h => added.forall(_ == h))
    s.map(SchemaPrefix + _.json).toSeq
  }

  /** The schema every engine read of version `raw` pins: the declared
    * physical schema ([[declPhysOf]]), else the version's `#schema=`
    * header. None only for an undeclared table written without the
    * header — its reads infer from a footer, as they always did. */
  private def physSchemaOf(dir: String, raw: Seq[String]): Option[StructType] =
    declPhysOf(dir).orElse(schemaIn(raw))

  /** Scan of `files` under `pin` — the one place an engine read falls
    * back to footer inference (no pin). */
  private def scan(spark: SparkSession, files: Seq[String],
                   pin: Option[StructType]): DataFrame =
    pin.fold(spark.read.parquet(files: _*))(
      spark.read.schema(_).parquet(files: _*))

  /** The one schema positional delete vectors are written with
    * ([[deleteWhere]], [[updateWhere]], consolidation): their reads pin
    * it instead of inferring it from a footer. */
  private val DelVectorSchema = StructType.fromDDL("file_path STRING, pos LONG")

  private def readDelVectors(spark: SparkSession,
                             dels: Seq[String]): DataFrame =
    spark.read.schema(DelVectorSchema).parquet(dels: _*)

  /** Positional delete files (`#del=` manifest lines) of a version —
    * merge-on-read row deletes; see [[deleteWhere]]. */
  private[sinks] def delFilesOf(dir: String, version: Int): Seq[String] =
    delsIn(rawManifest(dir, version))

  /** Equality-delete entries of a version (`#eqdel=<seq>\t<col>\t<path>`
    * manifest lines): merge-on-read delete-by-key; see [[deleteByKeys]].
    * `seq` is the version the delete landed at — it scopes applicability
    * to files already in the table then (Iceberg v2 sequence-number
    * semantics: a key re-inserted AFTER the delete survives). */
  private[sinks] def eqDelsOf(dir: String,
                              version: Int): Seq[(Int, String, String)] =
    eqDelsIn(rawManifest(dir, version))

  /** First retained version listing each of `files` — the applicability
    * boundary for equality deletes (a file is subject to a delete iff it
    * entered the table BEFORE the delete landed). Exact as long as no
    * manifest older than an unmaterialized equality delete has been
    * expired, which [[expire]] enforces loudly; a production-scale table
    * would carry the add-version per file in the manifest instead of
    * re-deriving it, but the metadata-only walk here is O(versions)
    * driver-side reads, never a data scan. */
  private def addedAtOf(dir: String,
                        files: Seq[String]): Map[String, Int] = {
    val want = files.toSet
    val out = scala.collection.mutable.Map.empty[String, Int]
    val it = versions(dir).iterator
    while (it.hasNext && out.size < want.size) {
      val v = it.next()
      filesOf(dir, v).foreach { f =>
        if (want.contains(f) && !out.contains(f)) out(f) = v
      }
    }
    out.toMap
  }

  /** Transaction ids carried by committed manifests — the replay ledger
    * for [[commitOnce]]. */
  def committedTxns(dir: String): Set[String] =
    versions(dir).flatMap { v =>
      io.readLines(manifestPath(dir, v))
        .collect { case l if l.startsWith("#txn=") => l.drop(5) }
    }.toSet

  /** Publish exactly `lines` as the next version ≥ `want`; retries upward
    * on collision with the SAME content — correct for the fixed-file-set
    * publishes (rollback, logical overwrite), where the intended head
    * state does not depend on what it replaces. Append commits must NOT
    * use this: see [[publishOnHead]]. Returns the committed version. */
  private[sinks] def publish(dir: String, want: Int,
                             lines: Seq[String]): Int = {
    io.mkdirs(manifestDir(dir))
    var v = want
    while (!io.createExclusive(manifestPath(dir, v), lines)) v += 1
    v
  }

  /** OCC publish for commits whose manifest DERIVES from the head: every
    * attempt re-resolves the current head and rebuilds its manifest lines
    * via `build(headVersion, headFiles)`, so a losing concurrent writer
    * merges the winner's file list instead of republishing a stale one.
    * Returns the committed version. */
  private def publishOnHead(dir: String, guardFiles: Seq[String] = Nil)(
      build: (Option[Int], Seq[String]) => Seq[String]): Int =
    publishOnHeadRaw(dir, guardFiles)((h: Option[Int]) =>
      build(h, h.map(filesOf(dir, _)).getOrElse(Seq.empty)))

  /** [[publishOnHead]] WITHOUT the expanded file list: the pure-append
    * shapes carry the head as raw pointers and never look at individual
    * files, so expanding every segment per attempt would quietly turn an
    * O(batch) commit back into an O(table-files) one. */
  private def publishOnHeadRaw(dir: String, guardFiles: Seq[String] = Nil)(
      build: Option[Int] => Seq[String]): Int =
    publishOnHeadTxn(dir, None, guardFiles)(build).merge

  /** [[publishOnHeadRaw]] plus the exactly-once arbiter for txn-carrying
    * commits: each attempt re-checks the lineage for `txnId` against the
    * FRESHLY-resolved head before publishing, so two LIVE writers
    * carrying the same id cannot both land. The entry-time ledger check
    * in [[commitOnce]] is only the replay fast path — it is
    * check-then-act, and two concurrent carriers both pass it (exactly
    * the reference's non-atomic duplicate check, weather_etl.py:158–184,
    * recreated one level down; found by the writer-schedule fuzzer).
    * The race is decided HERE: the loser of the createExclusive race
    * re-resolves the head, and the winner's `#txn=` line is then in the
    * lineage it re-scans (only versions not yet scanned re-read, so the
    * check stays O(history) per COMMIT, not per attempt). A writer that
    * never loses the createExclusive cannot have raced anyone on this
    * lineage — publishing v(head+1) is itself the proof its scan of
    * v1..head was complete. Returns Left(existing version) when the txn
    * already landed, Right(published version) otherwise.
    *
    * `guardFiles`: freshly-written, not-yet-referenced files this publish
    * is about to make live. A writer stalled past the [[vacuumOrphans]]
    * grace window can have its unpublished batch swept as debris; without
    * a check, its publish would land a manifest referencing DELETED files
    * — silent data loss the next read discovers. The guard re-verifies
    * each batch directory right after winning the createExclusive race
    * and UN-publishes (deletes its own manifest — no sidecar exists yet,
    * no later version can have built on it before the check) + throws if
    * any vanished, converting the stall into a loud retryable failure.
    * One `exists` per batch dir per commit; the residual
    * publish-vs-delete window (both inside the same few microseconds) is
    * covered from the vacuum side by its pre-delete re-scan — the
    * documented contract stays "grace must exceed the longest write
    * stall", same as every object-store table format. */
  private def publishOnHeadTxn(dir: String, txnId: Option[String],
                               guardFiles: Seq[String] = Nil)(
      build: Option[Int] => Seq[String]): Either[Int, Int] = {
    io.mkdirs(manifestDir(dir))
    val guardDirs = guardFiles.map(f => f.take(f.lastIndexOf('/'))).distinct
    var scanned = Set.empty[Int]
    var out: Option[Either[Int, Int]] = None
    while (out.isEmpty) {
      val vs = versions(dir)
      val dup = txnId.flatMap { t =>
        val fresh = vs.filterNot(scanned.contains)
        val hit = fresh.sorted.reverse.find(v =>
          io.readLines(manifestPath(dir, v)).contains(s"#txn=$t"))
        scanned ++= fresh
        hit
      }
      dup match {
        case Some(existing) => out = Some(Left(existing))
        case None =>
          val head = vs.lastOption
          val v = head.getOrElse(0) + 1
          if (io.createExclusive(manifestPath(dir, v), build(head))) {
            val gone = guardDirs.filterNot(io.exists)
            if (gone.nonEmpty) {
              io.delete(manifestPath(dir, v))
              throw new IllegalStateException(
                s"commit to $dir aborted: batch director${
                  if (gone.size == 1) "y" else "ies"} ${gone.mkString(", ")} " +
                  "vanished before publish — this writer stalled past the " +
                  "vacuum grace window and its unpublished batch was swept " +
                  "as debris; nothing published, retry the operation")
            }
            out = Some(Right(v))
          }
      }
    }
    out.get
  }

  /** Reclaim a batch that lost an exactly-once race before publishing:
    * the files were written by THIS process and are referenced by no
    * manifest, so eager deletion is safe (and spares the orphan sweep). */
  private def discardUnpublishedBatch(newFiles: Seq[String]): Unit = {
    newFiles.foreach(io.delete)
    newFiles.headOption.foreach { f =>
      val bdir = f.substring(0, f.lastIndexOf('/'))
      io.list(bdir).foreach(n => io.delete(s"$bdir/$n"))
      io.delete(bdir)
    }
  }

  /** Write `df` as one immutable batch under `data/`; returns file paths. */
  private def writeBatch(df: DataFrame, dir: String): Seq[String] = {
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    df.write.parquet(batchDir)
    io.list(batchDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$batchDir/$n")
  }

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

  /** Legacy single-file store — read-through fallback only; every write
    * goes to the chain, which shadows this file forever after. */
  private def propertiesPath(dir: String) = s"${manifestDir(dir)}/properties"
  private def propsChainDir(dir: String) = s"${manifestDir(dir)}/props"

  private def parseProps(lines: Seq[String]): Map[String, String] =
    // `#`-prefixed lines are headers (the legacy store's stamp pad),
    // not properties — same convention as manifest metadata lines
    lines.filterNot(_.startsWith("#")).filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** (chain head index, current map); head 0 = no chain yet, the map is
    * the legacy file's (or empty). */
  private def propsState(dir: String): (Int, Map[String, String]) =
    chainHead(propsChainDir(dir), "p") match {
      case (n, Some(lines)) => (n, parseProps(lines))
      case (_, None) =>
        val p = propertiesPath(dir)
        (0, if (!io.exists(p)) Map.empty else parseProps(io.readLines(p)))
    }

  /** OCC read-modify-write over the chain: claim index head+1 with
    * createExclusive; the LOSER re-reads and re-applies — a single-key
    * update commutes with any concurrent one, so auto-retry is the
    * right policy (unlike the schema CAS, where a lost ALTER must
    * refuse: its change set was computed against a schema that no
    * longer exists). The legacy store's plain rewrite was the same
    * lost-update hole as everywhere else: two concurrent SET
    * TBLPROPERTIES and the loser's key silently vanished. `f` returning
    * None means no-op (no chain entry lands at all). */
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

  /** Memo for [[tableProperties]], keyed by the properties file's
    * (mtime, size) — the cboFold pattern (see `cboFoldCache`), and for
    * the same reason: `tableProperties` runs at PLAN time (the mview
    * rewrite rule consults `mview.attached` per Aggregate-over-scan per
    * fixed-point iteration; sort-order and maintenance knobs read it
    * too), and behind an object-store TableIO an uncached read is a GET
    * per plan. A hit costs two stats (mtime + size) instead; in-process
    * writers additionally invalidate eagerly (see
    * [[setTableProperty]]/[[removeTableProperty]]), so a same-stamp
    * rewrite inside the filesystem's mtime resolution cannot serve
    * stale. Cross-process writers are covered by the stamp alone.
    * LRU-capped like the fold cache; correctness never rides on a hit.
    * `propsReads` counts actual line-reads (cache misses) — the
    * optimizer-IO canary's probe. */
  private val propsCache =
    new java.util.LinkedHashMap[String, ((Long, Long), Map[String, String])](
      64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            ((Long, Long), Map[String, String])]): Boolean = size > 512
    }
  private[graft] val propsReads = new java.util.concurrent.atomic.AtomicLong
  private[graft] def invalidateProperties(dir: String): Unit =
    propsCache.synchronized {
      propsCache.remove(propertiesPath(dir))
      propsCache.remove(propsChainDir(dir))
    }

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
    // chain store: the memo stamps on the HEAD INDEX, monotone by
    // construction — a foreign writer can never revisit a stamp, which
    // is the structural guarantee the legacy single-file store needed
    // the strictly-growing size pad for. A hit costs one `list`; a miss
    // adds one `readLines` of the head entry (retry via chainHead when
    // a prune wins the race for a just-listed head).
    val cd = propsChainDir(dir)
    val ns = io.list(cd).filter(_.startsWith("p"))
      .flatMap(n => scala.util.Try(n.drop(1).toInt).toOption)
    if (ns.isEmpty) {
      // legacy single-file fallback: (mtime, size) stamp, pad-protected
      val p = propertiesPath(dir)
      if (!io.exists(p)) return Map.empty
      val stamp = (io.mtime(p), io.size(p))
      val hit = propsCache.synchronized {
        Option(propsCache.get(p)).filter(_._1 == stamp).map(_._2)
      }
      return hit.getOrElse {
        propsReads.incrementAndGet()
        val m = parseProps(io.readLines(p))
        // a concurrent rewrite between the stat and the read stores
        // fresh content under the stale stamp; the next call's stamp
        // mismatch self-heals with one extra read
        propsCache.synchronized { propsCache.put(p, (stamp, m)) }
        m
      }
    }
    val stamp = (ns.max.toLong, -1L)
    val hit = propsCache.synchronized {
      Option(propsCache.get(cd)).filter(_._1 == stamp).map(_._2)
    }
    hit.getOrElse {
      propsReads.incrementAndGet()
      val m = chainHead(cd, "p") match {
        case (_, Some(lines)) => parseProps(lines)
        case _ => Map.empty[String, String]
      }
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

  private def ptNumFiles(dir: String): Int = {
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
  private def smallCountPath(dir: String) = s"${manifestDir(dir)}/smallcount"

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
  private def maybeAutoCompact(spark: SparkSession, dir: String,
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

  /** Legacy single-file counter (pre-delta-ledger); still folded into
    * the sum so an in-flight table upgrades seamlessly, reset by the
    * first crossing after the upgrade. */
  private def analyzeCountPath(dir: String) =
    s"${manifestDir(dir)}/analyzecount"

  private def analyzeDeltaDir(dir: String) =
    s"${manifestDir(dir)}/analyzecount.d"

  /** Rows landed since the last auto-ANALYZE, summed from the delta
    * ledger (plus the legacy counter file, if one predates it) — the
    * spec seam for the loss-free accumulation contract. A delta a racer
    * consumed between our list and read counts as 0 here: the racer
    * summed it, crossed, and paid the ANALYZE on its side. */
  private[sinks] def analyzePendingRows(dir: String): Long = {
    val legacy =
      if (!io.exists(analyzeCountPath(dir))) 0L
      else io.readLines(analyzeCountPath(dir)).headOption
        .flatMap(_.toLongOption).getOrElse(0L)
    val dd = analyzeDeltaDir(dir)
    legacy + io.list(dd).map { n =>
      scala.util.Try(io.readLines(s"$dd/$n").headOption
        .flatMap(_.toLongOption).getOrElse(0L)).getOrElse(0L)
    }.sum
  }

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
  private def maybeAutoAnalyze(spark: SparkSession, dir: String,
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
        val legacy =
          if (!io.exists(analyzeCountPath(dir))) 0L
          else io.readLines(analyzeCountPath(dir)).headOption
            .flatMap(_.toLongOption).getOrElse(0L)
        val acc = legacy + names.map { n =>
          scala.util.Try(io.readLines(s"$dd/$n").headOption
            .flatMap(_.toLongOption).getOrElse(0L)).getOrElse(0L)
        }.sum
        if (acc >= t) {
          names.foreach(n => io.delete(s"$dd/$n"))
          io.delete(analyzeCountPath(dir))
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
  private def maybeAutoExpire(dir: String): Unit = {
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

  def commit(df: DataFrame, dir: String, append: Boolean = true,
             txnId: Option[String] = None): Int = {
    val pt = partitioningOf(dir)
    val written =
      if (pt.isEmpty) df else PartitionTransform.clusterFor(df, pt, ptNumFiles(dir))
    val newFiles = writeBatch(written, dir)
    val phys = physOf(written)
    validateConstraints(df.sparkSession, dir, newFiles, userBatch = true)
    // per-file row counts land with EVERY commit (footers of the batch
    // just written — O(batch), local), and the head's stats lines carry
    // forward, so a plain append no longer silently discards the pruning
    // metadata a clustered landing built up. A partitioned table records
    // full covering stats (rows lines ride in the same aggregate).
    val rowsNew =
      if (pt.isEmpty) rowsLines(df.sparkSession, newFiles)
      else statsLines(df.sparkSession, dir, newFiles,
        pt.flatMap(_.statNames).distinct, cbo = cboOnCommit(dir),
        known = Some(phys))
    val meta = txnId.map(t => s"#txn=$t").toSeq :+ s"#ts=${now()}"
    // an append inherits the head's delete vectors (they reference the
    // carried files); a logical overwrite starts clean — none of its files
    // existed when any prior delete was computed
    if (append) {
      // the batch's bulk lines land in NEW segments ONCE, outside the OCC
      // loop (they don't depend on the head); the head's bulk carries as
      // raw pointers — an append removes nothing, so pointer reuse is
      // sound and the manifest write is O(batch + pointers), never
      // O(table files)
      val cov = coversOf(rowsNew)
      val newSeg = segLine(dir, newFiles, cov)
      val newStatsSeg = segLine(dir, rowsNew, cov)
      var headAt: Option[Int] = None
      publishOnHeadTxn(dir, txnId, guardFiles = newFiles) { h =>
        headAt = h
        meta ++ carryManifest(dir, h, Seq(phys)) ++ newSeg
      } match {
        case Left(existing) =>
          // a LIVE same-txn writer won the race: this batch never
          // published and must not land its stats or trigger maintenance
          discardUnpublishedBatch(newFiles)
          existing
        case Right(v) =>
          val hdr = (headAt match {
            case None => Some((0L, 0L)) // first commit: totals start at 0
            case some => headerOrUpgrade(dir, some)
          }).map { case (d, del) =>
            rowsHeaderLine(d + sumRows(rowsNew), del)
          }.toSeq
          io.writeLines(statsPath(dir, v),
            hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
          val out =
            maybeAutoCompact(df.sparkSession, dir, newFiles).getOrElse(v)
          maybeAutoExpire(dir)
          maybeAutoAnalyze(df.sparkSession, dir, sumRows(rowsNew))
          maybeAutoRefresh(df.sparkSession, dir)
          out
      }
    } else {
      // a logical overwrite's lines don't derive from the head, but a
      // txn-carrying one still rides the same exactly-once arbiter
      publishOnHeadTxn(dir, txnId, guardFiles = newFiles)(_ =>
        meta ++ schemaHeader(Seq.empty, Seq(phys), replacesAll = true) ++
          newFiles) match {
        case Left(existing) =>
          discardUnpublishedBatch(newFiles)
          existing
        case Right(v) =>
          io.writeLines(statsPath(dir, v),
            rowsHeaderLine(sumRows(rowsNew), 0L) +: rowsNew)
          // an overwrite discarded every previously-counted small file
          if (io.exists(smallCountPath(dir)))
            io.writeLines(smallCountPath(dir), Seq("0"))
          val out =
            maybeAutoCompact(df.sparkSession, dir, newFiles).getOrElse(v)
          maybeAutoExpire(dir)
          maybeAutoAnalyze(df.sparkSession, dir, sumRows(rowsNew))
          maybeAutoRefresh(df.sparkSession, dir)
          out
      }
    }
  }

  /** Exactly-once commit for replayable sources (Structured Streaming's
    * foreachBatch): the transaction id rides IN the manifest, so the
    * manifest publish is itself the atomic "this batch landed" marker —
    * there is no crash window between data commit and marker write in
    * which a replay could double-land (the Delta `txn` action, in manifest
    * form). A redelivered (txnId already committed) batch is a no-op that
    * returns the original version. Assumes one writer per txn namespace —
    * exactly what foreachBatch guarantees per query. */
  def commitOnce(df: DataFrame, dir: String, txnId: String,
                 append: Boolean = true): Int =
    if (committedTxns(dir).contains(txnId)) versionOfTxn(dir, txnId)
    else commit(df, dir, append, txnId = Some(txnId))

  /** The version whose manifest carries `txnId` (latest if several — a
    * compaction copies ledgers forward, so several manifests can). */
  private def versionOfTxn(dir: String, txnId: String): Int =
    versions(dir).reverse.find { v =>
      io.readLines(manifestPath(dir, v)).contains(s"#txn=$txnId")
    }.get

  /** Read a snapshot: the pinned `version`, or the head. The file list is
    * resolved HERE, once — the returned DataFrame keeps reading this exact
    * snapshot no matter what commits after. If the snapshot carries delete
    * vectors, they are applied merge-on-read; a delete-free snapshot reads
    * as a plain scan (zero overhead). */
  def read(spark: SparkSession, dir: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val raw = rawManifest(dir, v)
    readLive(spark, dir, raw, filesIn(raw))
  }

  /** `file:` URIs (as `_metadata.file_path` reports them) normalized to the
    * plain-path form manifests store, so delete-vector keys and manifest
    * validation agree on one spelling. */
  private def plainPath = regexp_replace(
    col("_metadata.file_path"), "^file:/*", "/")

  /** Nullability-relaxed declared PHYSICAL schema, when the table has a
    * declaration — the first choice of [[physSchemaOf]], ahead of the
    * manifest's `#schema=` header, and the pin every engine-internal read
    * of a possibly-mixed-vintage file set must use: schema inference samples
    * ONE footer, so on a file set straddling a schema evolution the
    * sample may predate it and a later-added column would silently
    * VANISH from the read (and, through a rewrite, from the rewritten
    * files — data loss). The pin makes pre-evolution files serve typed
    * nulls instead, the read path's own semantics. Nullability relaxes
    * because a declared NOT NULL column may be absent from pre-ADD
    * files and the vectorized reader refuses a missing REQUIRED column;
    * dropped columns project away (a rewrite sheds retired bytes — the
    * ledger keeps re-adds safe regardless). */
  private[graft] def declPhysOf(dir: String): Option[StructType] =
    declaredSchema(dir)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .map(s => relaxed(graft.sql.ColumnMapping.physicalSchema(s)))

  /** `s` with every field, array element and map value nullable — the
    * shape a parquet read serves whatever the footer claims. */
  private def relaxed(s: StructType): StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = relax(m.valueType), valueContainsNull = true)
      case o => o
    }
    relax(s).asInstanceOf[StructType]
  }

  /** The raw scan of `files` tagged with (file, position) identity columns
    * and with `dels` anti-joined away — the live view, keeping the identity
    * columns so [[deleteWhere]] can address surviving rows. Position comes
    * from parquet row index (`_metadata.row_index`): stable because data
    * files are immutable. */
  private def taggedLive(spark: SparkSession, files: Seq[String],
                         dels: Seq[String],
                         pin: Option[StructType]): DataFrame = {
    val raw = scan(spark, files, pin)
    val tagged = raw.select(
      (Seq(plainPath.as("__graft_file"),
        col("_metadata.row_index").as("__graft_pos")) ++
        raw.columns.map(col)): _*)
    if (dels.isEmpty) tagged
    else {
      // the delete side is the small side by construction (positions of
      // deleted rows, consolidated by compaction) — AQE broadcasts it;
      // the data side never shuffles
      val dd = readDelVectors(spark, dels)
      tagged.join(dd,
        tagged("__graft_file") === dd("file_path") &&
          tagged("__graft_pos") === dd("pos"),
        "left_anti")
    }
  }

  private def readFiles(spark: SparkSession, files: Seq[String],
                        dels: Seq[String],
                        pin: Option[StructType]): DataFrame =
    if (dels.isEmpty) scan(spark, files, pin)
    else taggedLive(spark, files, dels, pin)
      .drop("__graft_file", "__graft_pos")

  /** Scan of `files` with the version's FULL row-erasure state applied:
    * positional vectors anti-joined on (file, pos), then every equality
    * delete that APPLIES to a file (file entered the table before the
    * delete landed — seq scoping) anti-joined on its key column. Files
    * are grouped by their applicable-delete set so each distinct "era"
    * costs one scan leg; the delete sides are tiny and broadcast. A
    * snapshot without equality deletes pays nothing here, and [[compact]]
    * materializes them away — read cost grows with eras only between
    * maintenance passes. Null-key semantics: a null in the delete file
    * erases null-key rows (null-safe equality), matching the delete-by-key
    * contract rather than SQL join semantics. `raw` is the version's
    * manifest ([[rawManifest]]): deletes and the schema pin
    * ([[physSchemaOf]]) come from it without another read. */
  private def readLive(spark: SparkSession, dir: String, raw: Seq[String],
                       files: Seq[String]): DataFrame = {
    val pin = physSchemaOf(dir, raw)
    val dels = delsIn(raw)
    val eqs = eqDelsIn(raw)
    if (eqs.isEmpty || files.isEmpty) readFiles(spark, files, dels, pin)
    else {
      val added = addedAtOf(dir, files)
      val groups = files.groupBy(f =>
        eqs.filter { case (s, _, _) => added.getOrElse(f, 0) < s })
      groups.toSeq.sortBy(_._2.head).map { case (applicable, fs) =>
        val base = readFiles(spark, fs, dels, pin)
        applicable.groupBy(_._2).toSeq.sortBy(_._1)
          .foldLeft(base) { case (acc, (c, ds)) =>
            val keys = spark.read.parquet(ds.map(_._3): _*)
            acc.join(keys, acc(c) <=> keys(c), "left_anti")
          }
      }.reduce(_ unionByName _)
    }
  }

  /** Merge-on-read row deletes — `DELETE FROM table WHERE predicate`
    * without rewriting a single data file, which at 100 TB is the
    * difference between an O(matched-positions) commit and rewriting a
    * 1 GB file to drop three rows (GDPR erasure, bad-crawl retraction).
    *
    * Mechanics: one scan of the head's LIVE view (existing deletes
    * applied, so positions are never re-listed) collects the (file, pos)
    * identity of matching rows into a positional delete file under
    * `deletes/`; the commit publishes the SAME data files plus a `#del=`
    * manifest line. Readers anti-join the delete vectors at scan time;
    * [[compact]] materializes them away; [[expire]] GCs superseded ones.
    * Positions are parquet row indexes, stable because data files are
    * immutable.
    *
    * OCC: every publish attempt re-validates that each file the delete
    * vector references is still in the head — a concurrent COMPACT that
    * rewrote one would silently resurrect the deleted rows (positions
    * don't transfer to rewritten files), so that race fails loudly and
    * the caller re-runs against the new head. Concurrent APPENDS are
    * fine: new files are never referenced by this vector.
    *
    * Returns the new version, or the current head unchanged when nothing
    * matched. */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: Column): Int = {
    val out = deleteWhereAttempts(spark, dir, predicate)
    maybeAutoRefresh(spark, dir)
    out
  }
  private def deleteWhereAttempts(spark: SparkSession, dir: String,
                                  predicate: Column): Int = retryingShape(3) {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    // predicates evaluate over SERVED values (nested existence defaults
    // substituted) so DELETE WHERE and SELECT WHERE agree on the same
    // rows; the position computation is unaffected by the substitution
    val matched = substDefaults(dir,
        taggedLive(spark, filesIn(raw), delsIn(raw), physSchemaOf(dir, raw)))
      .filter(predicate)
      .select(col("__graft_file").as("file_path"),
        col("__graft_pos").as("pos"))
    val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
    // one vector file per delete commit: positions are two longs a row —
    // tiny next to the data they erase — and one file keeps the manifest
    // line count O(deletes), not O(deletes x scan partitions).
    // The row count and the distinct touched files ride the WRITE job as
    // observed metrics — the former shape re-read the just-written vector
    // twice (an isEmpty probe, then a distinct().collect()), two extra
    // Spark jobs per delete. collect_set stays bounded: ≤ head file count.
    val obs = org.apache.spark.sql.Observation(
      s"deleteWhere-${java.util.UUID.randomUUID}")
    matched.observe(obs, count(lit(1)).as("n"),
        collect_set(col("file_path")).as("files"))
      .coalesce(1).write.parquet(delDir)
    val newDel = io.list(delDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$delDir/$n")
    val obsRow = if (newDel.isEmpty) Map.empty[String, Any] else obs.get
    if (newDel.isEmpty || obsRow("n").asInstanceOf[Long] == 0L) {
      io.list(delDir).foreach(n => io.delete(s"$delDir/$n"))
      io.delete(delDir)
      return head
    }
    val referenced =
      obsRow("files").asInstanceOf[scala.collection.Seq[String]].toSet
    // merge-on-read: every head data file stays — pointer carry is sound
    var headAt: Option[Int] = None
    val v = publishOnHead(dir, guardFiles = newDel) { (h, base) =>
      val missing = referenced -- base.toSet
      if (missing.nonEmpty)
        throw new SnapshotShapeConflict(
          s"delete vector references ${missing.size} file(s) no longer in " +
            s"the head (concurrent compaction/overwrite rewrote them); " +
            s"re-run deleteWhere against the new head")
      headAt = h
      Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq.empty) ++
        newDel.map(f => s"#del=$f")
    }
    // delete vectors never move min/max (stats stay a superset guarantee);
    // the new vector's own row count lands so fastCount can subtract the
    // dead rows from the sidecar alone
    val delRowLines = rowsLines(spark, newDel)
    val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
      rowsHeaderLine(d, del + sumRows(delRowLines))
    }.toSeq
    io.writeLines(statsPath(dir, v),
      hdr ++ carrySidecar(dir, headAt) ++ delRowLines)
    v
  }

  /** Merge-on-read row UPDATE — `UPDATE table SET … WHERE predicate` as
    * ONE atomic commit landing (a) a positional delete vector erasing the
    * matched rows and (b) new data file(s) carrying their updated copies.
    * Zero untouched rows rewrite: at 100 TB an update touching 0.1% of
    * rows costs O(matched) IO, where the copy-on-write alternative
    * ([[merge]]) rewrites every file containing a match. The updated
    * copies land through the table's full discipline — declared
    * partitioning clusters them, CHECK constraints validate them, their
    * stats lines ride the same commit.
    *
    * `assignments` maps column name → new-value expression evaluated
    * over the matched row (SQL `SET c = expr`; unassigned columns carry
    * through; assigning a column the table lacks refuses).
    *
    * OCC mirrors [[deleteWhere]] (vector-referenced files must still be
    * in the head) plus the check the append half makes necessary: the
    * head's row-erasure state must not have changed since the matched
    * rows were scanned — a concurrent delete overlapping the match would
    * be silently RESURRECTED by our updated copies otherwise. Either
    * conflict throws [[SnapshotShapeConflict]] and auto-retries against
    * the new head (bounded), re-scanning the matches.
    *
    * Unmaterialized equality deletes refuse at entry ([[compact]] first):
    * their seq scoping orders against data files, and the update's
    * appended file would re-order that history. Returns the new version
    * (head unchanged when nothing matched). */
  def updateWhere(spark: SparkSession, dir: String, predicate: Column,
                  assignments: Map[String, Column]): Int = {
    val out = updateWhereAttempts(spark, dir, predicate, assignments)
    maybeAutoRefresh(spark, dir)
    out
  }
  private def updateWhereAttempts(spark: SparkSession, dir: String,
      predicate: Column, assignments: Map[String, Column]): Int =
    retryingShape(3) {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; compact() before " +
        "updateWhere (their seq scoping does not order against the " +
        "update's appended rows)")
    val files = filesIn(raw)
    if (files.isEmpty) return head
    val headDels = delsIn(raw)
    // matched rows serve BOTH halves (positions out, updated copies out):
    // one scan, cached for the second pass
    // served-value semantics for both the predicate AND the assignment
    // expressions (an UPDATE reading main.rh sees the default, like any
    // SELECT); rewritten rows then MATERIALIZE the substituted values
    val matched = substDefaults(dir,
        taggedLive(spark, files, headDels, physSchemaOf(dir, raw)))
      .filter(predicate).persist()
    try {
      val dataCols = matched.columns.drop(2).toSeq // after (file, pos) tags
      val bad = assignments.keySet -- dataCols.toSet
      require(bad.isEmpty,
        s"updateWhere assigns unknown column(s): ${bad.mkString(", ")}")
      if (matched.isEmpty) return head
      val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
      // the touched-file set rides the vector WRITE as an observed metric
      // (bounded: ≤ head file count) — the former shape re-read the
      // just-written vector with a distinct().collect(), one extra job
      val obs = org.apache.spark.sql.Observation(
        s"updateWhere-${java.util.UUID.randomUUID}")
      matched.select(col("__graft_file").as("file_path"),
          col("__graft_pos").as("pos"))
        .observe(obs, collect_set(col("file_path")).as("files"))
        .coalesce(1).write.parquet(delDir)
      val newDel = io.list(delDir).filter(_.endsWith(".parquet")).sorted
        .map(n => s"$delDir/$n")
      val updated = matched.select(dataCols.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      val pt = partitioningOf(dir)
      val written =
        if (pt.isEmpty) updated
        else PartitionTransform.clusterFor(updated, pt, ptNumFiles(dir))
      val newFiles = writeBatch(written, dir)
      val phys = physOf(written)
      validateConstraints(spark, dir, newFiles)
      val rowsNew =
        if (pt.isEmpty) rowsLines(spark, newFiles)
        else statsLines(spark, dir, newFiles,
          pt.flatMap(_.statNames).distinct, cbo = cboOnCommit(dir),
          known = Some(phys))
      val referenced =
        obs.get("files").asInstanceOf[scala.collection.Seq[String]].toSet
      // merge-on-read update: all head files carry, plus the updated
      // copies — pointer carry + one new segment, like an append
      val newSeg = segLine(dir, newFiles, coversOf(rowsNew))
      val delRowLines = rowsLines(spark, newDel)
      val newStatsSeg = segLine(dir, delRowLines ++ rowsNew)
      var headAt: Option[Int] = None
      val v = publishOnHead(dir,
          guardFiles = newDel ++ newFiles) { (h, base) =>
        val missing = referenced -- base.toSet
        if (missing.nonEmpty)
          throw new SnapshotShapeConflict(
            s"update vector references ${missing.size} file(s) no longer " +
              "in the head (concurrent compaction/overwrite); re-running " +
              "updateWhere against the new head")
        val curDels = h.toSeq.flatMap(delFilesOf(dir, _))
        if (curDels.toSet != headDels.toSet ||
            h.toSeq.flatMap(eqDelsOf(dir, _)).nonEmpty)
          throw new SnapshotShapeConflict(
            "row-erasure state changed during updateWhere (concurrent " +
              "delete); re-running against the new head so updated copies " +
              "cannot resurrect concurrently-deleted rows")
        headAt = h
        Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq(phys)) ++
          newDel.map(f => s"#del=$f") ++ newSeg
      }
      val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
        rowsHeaderLine(d + sumRows(rowsNew), del + sumRows(delRowLines))
      }.toSeq
      io.writeLines(statsPath(dir, v),
        hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
      v
    } finally {
      matched.unpersist()
      ()
    }
  }

  /** Merge-on-read delete-BY-KEY — `DELETE FROM table WHERE key IN
    * (keys)` as an O(|keys|) commit with ZERO data scanned: the keys land
    * as an equality-delete file under `deletes/`, and readers anti-join
    * them against every data file that was already in the table when the
    * delete landed. That scoping (Iceberg v2 sequence numbers, carried
    * here as the landing version in the `#eqdel=` manifest line) is the
    * correctness half of the operator: a key legitimately RE-INSERTED
    * after the delete is a new row and survives — an unscoped filter
    * would silently swallow it forever.
    *
    * vs the siblings: [[deleteWhere]] scans the table to resolve
    * arbitrary predicates to positions; [[merge]]/[[mergeChanges]]
    * rewrite the affected files copy-on-write. This is the cheapest of
    * the three — the GDPR-erasure / retraction-feed shape, where the
    * keys are known and the table is 100 TB — at the price of a per-era
    * anti-join at read time until [[compact]] materializes it.
    *
    * Normalization contract (enforced loudly elsewhere): MERGE,
    * incremental reads, promotion, and history expiration refuse while
    * unmaterialized equality deletes are present — run [[compact]] to
    * fold them into the data files first. Keys are deduplicated; a null
    * key erases null-key rows. Returns the new version (head unchanged
    * when `keys` is empty). */
  def deleteByKeys(spark: SparkSession, dir: String, keyCol: String,
                   keys: DataFrame): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val delDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
    keys.select(col(keyCol)).distinct().coalesce(1).write.parquet(delDir)
    val out = io.list(delDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$delDir/$n")
    // footers already carry the row count — emptiness is a driver-local
    // read, not another Spark job over the just-written file
    if (out.isEmpty || footerRowCounts(spark, out).values.sum == 0L) {
      io.list(delDir).foreach(n => io.delete(s"$delDir/$n"))
      io.delete(delDir)
      return vs.last
    }
    // merge-on-read: all head files carry — pointer carry, like deleteWhere
    var headAt: Option[Int] = None
    val v = publishOnHeadRaw(dir, guardFiles = out) { h =>
      headAt = h
      // seq = the version being published: the delete applies to exactly
      // the head's files (all added at ≤ head < seq), never to later
      // appends — re-resolved per OCC retry like every head derivation
      val seq = h.getOrElse(0) + 1
      Seq(s"#ts=${now()}") ++ carryManifest(dir, h, Seq.empty) ++
        out.map(f => s"#eqdel=$seq\t$keyCol\t$f")
    }
    // key erasure never moves a file's min/max: superset guarantee holds;
    // the totals carry unchanged — equality deletes are data-dependent
    // debt (fastCount refuses on them until compact materializes)
    val hdr = headerOrUpgrade(dir, headAt).map { case (d, del) =>
      rowsHeaderLine(d, del)
    }.toSeq
    val carried = hdr ++ carrySidecar(dir, headAt)
    if (carried.nonEmpty) io.writeLines(statsPath(dir, v), carried)
    // auto-materialize on threshold (the `eqdel.compact.threshold` table
    // property): a CDC-heavy table's eras would otherwise pile up until
    // an operator remembers to compact — with the property set, the
    // delete that crosses the line pays the materialization itself, and
    // the metadata paths (fastCount, catalog reads, MERGE) stay usable
    // without babysitting. Read cost between passes stays O(eras).
    val committedV = tableProperties(dir).get("eqdel.compact.threshold")
      .map(_.toInt).filter(_ > 0) match {
      case Some(t) if eqDelsOf(dir, v).size >= t =>
        compact(spark, dir,
          tableProperties(dir).get("compact.target.bytes").map(_.toLong)
            .getOrElse(DefaultCompactTargetBytes))
      case _ => v
    }
    maybeAutoRefresh(spark, dir)
    committedV
  }

  /** Roll the head back to `toVersion`'s file set — as a NEW version, so
    * the rolled-back state stays inspectable. Carries `toVersion`'s delete
    * vectors too: the rolled-back STATE includes which rows were dead. */
  def rollback(dir: String, toVersion: Int): Int = {
    val v = publish(dir, versions(dir).last + 1,
      s"#ts=${now()}" +: carryManifest(dir, Some(toVersion), Seq.empty))
    // the restored state's sidecar (stats bounds, blooms, row counts)
    // describes the same immutable files — copy it (pointers and all:
    // segments are immutable and GC-pinned by this new reference) so a
    // rollback doesn't silently turn off pruning and metadata-only counts
    val p = statsPath(dir, toVersion)
    if (io.exists(p)) io.writeLines(statsPath(dir, v), io.readLines(p))
    v
  }

  /** Commit wall-clock of a version (absent on manifests published by a
    * pre-timestamp build). */
  private def tsOf(dir: String, version: Int): Option[Long] =
    io.readLines(manifestPath(dir, version))
      .collectFirst { case l if l.startsWith("#ts=") => l.drop(4).toLong }

  /** Time-travel by wall clock: read the HIGHEST version whose commit
    * timestamp is ≤ `tsMillis` — "what did the table contain when
    * yesterday's training job started?" asked in the job's own terms.
    * Version numbers stay the order of record (a slow OCC loser can carry
    * an earlier stamp than the winner below it — the stamp is taken
    * before publish), so resolution filters on stamps but picks the max
    * VERSION among the qualifying. Fails loudly when nothing is old
    * enough; unstamped manifests (pre-timestamp builds) never qualify. */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAt(dir, tsMillis)))

  /** The version [[readAsOf]] resolves `tsMillis` to — shared with the
    * SQL catalog's `TIMESTAMP AS OF` path. */
  private[graft] def versionAt(dir: String, tsMillis: Long): Int = {
    val stamped = versions(dir)
      .flatMap(v => tsOf(dir, v).map(t => (v, t)))
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"no version at or before $tsMillis in $dir " +
        s"(earliest stamp: ${stamped.headOption.map(_._2)})")
    at.max
  }

  /** First version whose commit stamp is at or after `tsMillis` — the
    * STREAMING twin of [[versionAt]] (which answers at-or-before for
    * time travel): a consumer starting "from instant T" wants the
    * commits that happened at or after T. None = every retained commit
    * predates the instant (the consumer tails from past the head). */
  private[graft] def versionAtOrAfter(dir: String,
                                      tsMillis: Long): Option[Int] =
    versions(dir)
      .flatMap(v => tsOf(dir, v).map(t => (v, t)))
      .filter(_._2 >= tsMillis).map(_._1).minOption

  /** (resolved version, live data files, has delete debt, `#schema=`
    * header) — the seam the SQL catalog plans a snapshot read through,
    * parsed from one manifest read. The header is the files' physical
    * schema, not a declaration: it never carries CREATE TABLE semantics. */
  private[graft] def snapshotInfo(dir: String, version: Option[Int])
      : (Int, Seq[String], Boolean, Option[StructType]) = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val raw = rawManifest(dir, v)
    (v, filesIn(raw), delsIn(raw).nonEmpty || eqDelsIn(raw).nonEmpty,
      schemaIn(raw))
  }

  // ---- manifest-level file skipping (Iceberg-style scan planning) ----

  /** Per-file (min, max) stats for `statCols`, landed NEXT TO a version's
    * manifest as `s{N}` — the metadata that lets a reader prune FILES
    * before Spark even lists them, which at 100 TB is the difference
    * between planning over a manifest and listing a bucket. Stats are an
    * OPTIMIZATION layer: the manifest stays the single source of truth,
    * a version without a stats file (crash between publish and stats
    * write, or a commit that didn't collect them) degrades to no pruning,
    * never to wrong results.
    *
    * Format: tab-separated `path col tag min max` per line, TYPED — the
    * pruning keys a real landing filters on are dates and categorical
    * strings, not doubles:
    *  - `num`: every ordered numeric shape on one axis — integers,
    *    floats, decimals, booleans (0/1), dates (epoch day), timestamps
    *    (epoch micros) — compared as arbitrary-precision decimals;
    *  - `str`: strings, URL-encoded in the file (tabs/newlines in data
    *    must not break the format), compared decoded;
    *  - `null`: an all-null (or non-finite-extreme) file — no usable
    *    bound, always kept. */
  def writeStats(spark: SparkSession, dir: String, version: Int,
                 statCols: Seq[String], onlyMissing: Boolean = false): Unit = {
    val p = statsPath(dir, version)
    val existing = sidecarLines(dir, version)
    // re-deriving range bounds must not discard the OTHER sidecar layers
    // (bloom bitmaps, `rows` counts for data AND delete-vector files)
    // already landed for this version. statsLines re-emits rows lines for
    // the files it scans; keeping the originals too is harmless — a file
    // is immutable, so duplicate rows lines agree and consumers fold maps.
    val keep =
      existing.filter { l =>
        val a = l.split('\t')
        a.length >= 3 && (a(1) == "#" || a(2) == "bloom")
      }
    val raw = rawManifest(dir, version)
    val lines =
      if (!onlyMissing)
        keep ++ statsLines(spark, dir, filesIn(raw), statCols,
          cbo = true, known = schemaIn(raw))
      else keep ++ incrementalStatsLines(spark, dir, raw, statCols,
        existing)
    io.writeLines(p, derivedHeader(dir, version, lines) ++ lines)
  }

  /** The incremental ANALYZE body (`writeStats(onlyMissing = true)`, the
    * auto-ANALYZE door): per-file CBO lines are immutable and MERGEABLE
    * by construction (HLL union / KLL merge / exact null+length sums ARE
    * the serving fold), so a refresh only needs to scan the files still
    * MISSING their lines and keep every already-covered file's lines
    * verbatim — O(files landed since the last ANALYZE) per threshold
    * crossing instead of O(table), the same incremental discipline
    * [[writeBlooms]] follows for unbloomed files. The snapshot fold over
    * (kept ++ fresh) equals the full-rescan fold exactly: the fold is a
    * per-file map keyed by immutable paths, and a file's line does not
    * depend on WHICH pass scanned it. The explicit `CALL write_stats`
    * keeps the full rescan — the loud operator door for "re-derive
    * everything" (changed stat columns, suspected sidecar damage).
    *
    * Coverage is judged in two passes because the expected tag set is
    * type-dependent (`kll` only for numeric/date/timestamp leaves, `len`
    * only for string/binary) and this path deliberately avoids a schema
    * resolution of its own: pass 1 rescans files missing the
    * type-independent core (bounds + nulls + hll per requested column);
    * pass 2 rescans files missing any tag class that ANY line — kept or
    * fresh — shows for that column, so a vintage that predates the kll
    * layer rescans too rather than leaving the snapshot histogram fold
    * muted where a full rescan would serve it. */
  private def incrementalStatsLines(spark: SparkSession, dir: String,
      raw: Seq[String], statCols: Seq[String],
      existing: Seq[String]): Seq[String] = {
    val all = filesIn(raw)
    val known = schemaIn(raw)
    val allSet = all.toSet
    val statLines = existing.filter { l =>
      val a = l.split('\t')
      a.length >= 3 && a(1) != "#" && a(2) != "bloom" && allSet(a(0))
    }
    // tag CLASSES per (file, col): the four bounds tags collapse to one
    // class — "null"/"wild" are complete answers for a file, not gaps
    def cls(t: String): String = t match {
      case "num" | "str" | "null" | "wild" => "bounds"
      case other => other
    }
    def tagsOf(lines: Seq[String]): Map[String, Map[String, Set[String]]] =
      lines.map(_.split('\t')).groupBy(_.head).map { case (f, as) =>
        f -> as.groupBy(_(1)).map { case (c, cs) =>
          c -> cs.map(a => cls(a(2))).toSet
        }
      }
    val have = tagsOf(statLines)
    val plain = statCols.filter(c => PartitionTransform.parseOpt(c).isEmpty)
    val miss1 = all.filter { f =>
      val m = have.getOrElse(f, Map.empty[String, Set[String]])
      statCols.exists(c => !m.getOrElse(c, Set.empty)("bounds")) ||
        plain.exists { c =>
          val t = m.getOrElse(c, Set.empty[String])
          !t("nulls") || !t("hll")
        }
    }
    val fresh1 = statsLines(spark, dir, miss1, statCols, cbo = true,
      known = known)
    val freshTags = tagsOf(fresh1.filter { l =>
      val a = l.split('\t'); a.length >= 3 && a(1) != "#"
    })
    val expected: Map[String, Set[String]] = statCols.map { c =>
      val seen = (have.values ++ freshTags.values)
        .flatMap(_.getOrElse(c, Set.empty)).toSet
      c -> seen
    }.toMap
    val done1 = miss1.toSet
    val miss2 = all.filterNot(done1).filter { f =>
      val m = have.getOrElse(f, Map.empty[String, Set[String]])
      statCols.exists(c => !expected(c).subsetOf(m.getOrElse(c, Set.empty)))
    }
    val fresh2 = statsLines(spark, dir, miss2, statCols, cbo = true,
      known = known)
    val rescanned = done1 ++ miss2
    statLines.filterNot(l => rescanned(l.takeWhile(_ != '\t'))) ++
      fresh1 ++ fresh2
  }

  /** One stats line per (file, col) over exactly `files` — one grouped
    * aggregate, one scan of those files, min/max computed in the column's
    * OWN type (casting dates/strings to double is how date and categorical
    * pruning got lost before). */
  /** Should this table's commits pay the CBO-sketch cost inline?
    * Default NO — the ANALYZE discipline: per-landing stats stay
    * min/max + rows (the pruning ingredients), and the NDV/null-count
    * sketches land when the operator runs [[writeStats]] (`CALL
    * write_stats`) or opts the table in durably (`stats.cbo=true`, for
    * streaming tables that want always-fresh CBO stats at ~30% extra
    * stats-pass cost per landing). */
  private def cboOnCommit(dir: String): Boolean =
    tableProperties(dir).get("stats.cbo").contains("true")

  /** Files fed through a [[statsLines]] scan, cumulatively — the test
    * seam (like [[footerReads]]) that lets specs pin the incremental
    * ANALYZE contract: "the second threshold crossing scanned ONLY the
    * files landed since the first". */
  private[sinks] val statsFilesScanned =
    new java.util.concurrent.atomic.AtomicLong

  /** The declared PHYSICAL schema iff the table carries nested existence
    * defaults — the stats scan substitutes through it so every sidecar
    * line (bounds, null counts, NDV/KLL) describes SERVED values; the
    * manifest pruning, sidecar MIN/MAX serving, TopN admission and CBO
    * folds built on those lines then agree with what the scan returns
    * (see [[graft.sql.NestedDefaults]]). Tables without nested defaults
    * — including every Scala-door table — pay one metadata read. */
  private def statsSubstitution(dir: String)
      : Option[org.apache.spark.sql.types.StructType] =
    declaredSchema(dir)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .filter(graft.sql.NestedDefaults.hasAny)
      .map(graft.sql.ColumnMapping.physicalSchema)

  /** Served-value view of an engine-internal frame: nested existence
    * defaults substituted when the table declares any (identity
    * otherwise) — what predicate evaluation in the DML doors uses so
    * DELETE/UPDATE WHERE agree with SELECT WHERE on the same rows. */
  private[sinks] def substDefaults(dir: String, df: DataFrame): DataFrame =
    statsSubstitution(dir)
      .map(graft.sql.NestedDefaults.substitute(df, _)).getOrElse(df)

  /** `known`: the physical schema of `files` when the caller has it (the
    * version's `#schema=` header, or the schema of the batch it just
    * wrote); it pins the scan when the table declares none. */
  private def statsLines(spark: SparkSession, dir: String,
                         files: Seq[String],
                         statCols: Seq[String],
                         cbo: Boolean = false,
                         known: Option[StructType] = None): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    statsFilesScanned.addAndGet(files.size)
    // A DECLARED table pins its physical schema on the stats scan:
    // schema inference samples ONE footer, and on a mixed-vintage file
    // set the sample may predate an evolution — a nested member added
    // later would then fail to resolve (nondeterministically, by file
    // order). The pin makes pre-evolution files serve typed nulls for
    // later members, exactly the read path's own semantics.
    val declPhys = declPhysOf(dir)
    val pin = declPhys.orElse(known)
    val subst = declPhys.filter(graft.sql.NestedDefaults.hasAny)
    def substituted(df: DataFrame): DataFrame =
      subst.map(graft.sql.NestedDefaults.substitute(df, _)).getOrElse(df)
    // Bounded driver memory at ANALYZE scale: the grouped aggregate
    // collects one row PER FILE, and with CBO sketches each row carries
    // ~25 KB (HLL + KLL base64) — a 100k-file whole-table write_stats
    // would otherwise materialize gigabytes in one collect. Chunking
    // caps the in-flight collect at ~512 rows; lines append across
    // chunks (per-file lines are independent by construction). The
    // FIRST read's schema pins every chunk: chunks of pre-evolution
    // files may lack a physical column entirely, and an explicit schema
    // makes the reader serve it as nulls instead of failing to resolve.
    if (files.size > StatsChunkFiles) {
      // an unpinned table still needs ONE schema pinned across chunks
      // (chunks of pre-evolution files may lack a column entirely)
      val schema = Some(pin.getOrElse(scan(spark, files, None).schema))
      return files.grouped(StatsChunkFiles).flatMap { chunk =>
        statsLinesChunk(spark, substituted(scan(spark, chunk, schema)),
          statCols, cbo)
      }.toSeq
    }
    statsLinesChunk(spark, substituted(scan(spark, files, pin)), statCols,
      cbo)
  }

  private def statsLinesChunk(spark: SparkSession, raw: DataFrame,
                              statCols: Seq[String],
                              cbo: Boolean): Seq[String] = {
    val df = raw.withColumn("__file", input_file_name())
    // a stats "column" is either a plain column or a declared partition
    // TRANSFORM spec (e.g. bucket(16,user_id)) — derived stats recompute
    // through the transform expression, so every rewrite path (compact,
    // merge, zorder) that re-derives via statColsOf carries them forward
    def exprOf(c: String): Column = PartitionTransform.parseOpt(c)
      .map(t => t.expr(raw.schema(t.source).dataType)).getOrElse(col(c))
    // a stat column may be a NESTED leaf ("main.temp" — the raw-document
    // shape): col() already resolves dotted paths, so only the TYPE
    // lookups below need to walk the schema. A literal top-level name
    // containing a dot wins over the dotted interpretation (pre-existing
    // col() semantics).
    def leafType(c: String)
        : Option[org.apache.spark.sql.types.DataType] = {
      def walk(dt: org.apache.spark.sql.types.DataType,
               parts: List[String])
          : Option[org.apache.spark.sql.types.DataType] =
        (dt, parts) match {
          case (t, Nil) => Some(t)
          case (s: org.apache.spark.sql.types.StructType, h :: t) =>
            s.fields.find(_.name.equalsIgnoreCase(h))
              .flatMap(f => walk(f.dataType, t))
          case _ => None
        }
      raw.schema.fields.find(_.name == c).map(_.dataType)
        .orElse(walk(raw.schema, c.split('.').toList))
    }
    // plain columns (not transform specs) additionally record the CBO
    // ingredients in the SAME grouped pass when asked: exact per-file
    // null counts and a mergeable per-file HLL sketch (union across
    // files = snapshot NDV — per-file approx counts would NOT merge,
    // sketches do)
    val plainCols =
      if (!cbo) Seq.empty
      else statCols.filter(c => PartitionTransform.parseOpt(c).isEmpty)
    def sketchable(c: String): Column = leafType(c) match {
      case Some(IntegerType | LongType | StringType | BinaryType) => col(c)
      // everything else goes through an injective-enough string form
      // (dates/decimals exact; float formatting is 1:1 up to -0.0) —
      // NDV is approximate by construction, the cast is not the error
      case _ => col(c).cast("string")
    }
    // numeric plain columns additionally record a per-file KLL quantile
    // sketch (k=800, mergeable): the snapshot fold derives the CBO's
    // equi-height histogram from the union — per-file percentiles would
    // NOT merge, sketches do. Numeric only: the histogram's bins are
    // doubles by API shape, and a lossy string→double would poison
    // range selectivity rather than inform it.
    // the KLL ingests CATALYST-INTERNAL units so the served histogram
    // bins compare against what FilterEstimation derives from literals:
    // numerics as-is, dates as days-since-epoch, timestamps as MICROS
    // (a bare cast-to-double gives seconds — off by 1e6 and the
    // estimator would price every time-range predicate absurdly)
    def kllExpr(c: String): Option[Column] = leafType(c) match {
      case Some(_: NumericType) => Some(col(c).cast("double"))
      case Some(org.apache.spark.sql.types.DateType) =>
        Some(datediff(col(c),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("double"))
      case Some(org.apache.spark.sql.types.TimestampType) =>
        Some(col(c).cast("double") * lit(1e6))
      case _ => None
    }
    val kllCols = plainCols.filter(c => kllExpr(c).isDefined)
    // variable-width plain columns record exact length sums + maxes in
    // the same pass: the fold serves ColumnStat.avgLen/maxLen, the row-
    // width ingredients that make broadcast BYTE estimates honest for
    // string-heavy tables (defaultSize guesses 20 for every string)
    val lenCols = plainCols.filter(c => leafType(c) match {
      case Some(StringType | BinaryType) => true
      case _ => false
    })
    val aggs = statCols.flatMap { c =>
      Seq(min(exprOf(c)).as(s"${c}__min"), max(exprOf(c)).as(s"${c}__max"))
    } ++ plainCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__cnt"),
        hll_sketch_agg(sketchable(c)).as(s"${c}__hll"))
    } ++ kllCols.map { c =>
      kll_sketch_agg_double(kllExpr(c).get, lit(800)).as(s"${c}__kll")
    } ++ lenCols.flatMap { c =>
      Seq(sum(length(col(c)).cast("long")).as(s"${c}__lensum"),
        max(length(col(c))).as(s"${c}__lenmax"))
    } :+ count(lit(1)).as("__rows")
    df.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .flatMap { r =>
        // input_file_name is URI-formatted (file://...); normalize back to
        // the manifest's plain-path form so lookups match
        val path = r.getString(0).stripPrefix("file://").stripPrefix("file:")
        val n = r.getAs[Long]("__rows")
        val bounds = statCols.map { c =>
          val lo = StatValue.encodeBound(r.getAs[Any](s"${c}__min"))
          val hi = StatValue.encodeBound(r.getAs[Any](s"${c}__max"))
          (lo, hi) match {
            case (Some((tag, l)), Some((_, h))) => s"$path\t$c\t$tag\t$l\t$h"
            case _ =>
              // distinguish "no rows to bound" from "rows whose extreme
              // has no encodable bound": an all-null file (`null`) can
              // be skipped by min/max consumers — SQL MIN/MAX ignore
              // nulls — but a ±Infinity/NaN float extreme or an
              // unsupported type (`wild`) may BE the answer, so wild
              // files must block metadata-only min/max, not vanish
              val mn = r.getAs[Any](s"${c}__min")
              val mx = r.getAs[Any](s"${c}__max")
              val t = if (mn == null && mx == null) "null" else "wild"
              s"$path\t$c\t$t\t-\t-"
          }
        }
        val cbo = plainCols.flatMap { c =>
          val nulls = n - r.getAs[Long](s"${c}__cnt")
          // an all-null file has no sketch ("-" = empty, NOT missing —
          // absence means no coverage and blocks the snapshot fold)
          val b64 = Option(r.getAs[Array[Byte]](s"${c}__hll"))
            .map(java.util.Base64.getEncoder.encodeToString).getOrElse("-")
          Seq(s"$path\t$c\tnulls\t$nulls\t$nulls",
            s"$path\t$c\thll\t$b64\t-")
        } ++ kllCols.map { c =>
          val b64 = Option(r.getAs[Array[Byte]](s"${c}__kll"))
            .map(java.util.Base64.getEncoder.encodeToString).getOrElse("-")
          s"$path\t$c\tkll\t$b64\t-"
        } ++ lenCols.map { c =>
          // an all-null file sums to null: record 0/0 (contributes
          // nothing to either fold; coverage still counts the file)
          val s = Option(r.getAs[Any](s"${c}__lensum"))
            .map(_.toString).getOrElse("0")
          val m = Option(r.getAs[Any](s"${c}__lenmax"))
            .map(_.toString).getOrElse("0")
          s"$path\t$c\tlen\t$s\t$m"
        }
        s"$path\t#\trows\t$n\t$n" +: (bounds ++ cbo)
      }
  }

  /** Per-file row counts read from parquet FOOTERS — the commit-time
    * fallback for paths that write files without a stats scan (plain
    * [[commit]], delete-vector lands). O(this batch) local footer opens
    * ONCE at commit, so [[fastCount]] never pays O(table) serial remote
    * IO per call. The counter exists so specs can pin "zero footer opens"
    * on the pure-sidecar path. */
  private[sinks] val footerReads = new java.util.concurrent.atomic.AtomicLong
  private def footerRowCounts(spark: SparkSession,
                              files: Seq[String]): Map[String, Long] = {
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      footerReads.incrementAndGet()
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try f -> r.getRecordCount finally r.close()
    }.toMap
  }

  /** `rows` sidecar lines for just-written `files` (data or vector). */
  private def rowsLines(spark: SparkSession, files: Seq[String]): Seq[String] =
    footerRowCounts(spark, files).toSeq.sortBy(_._1)
      .map { case (f, n) => s"$f\t#\trows\t$n\t$n" }

  /** (path → row count) from the `rows` sidecar lines at `version` —
    * keyed by path, so it covers data files AND delete-vector files. */
  private def rowsOf(dir: String, version: Int): Map[String, Long] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, "#", "rows", n, _) => f -> n.toLong }
      .toMap

  /** Stats lines of `headVersion` restricted to the files in `base` —
    * the carry-forward read, re-derived per OCC attempt because the head
    * (and thus the stats file to inherit) can move under a retry. */
  private def carriedStats(dir: String, headVersion: Option[Int],
                           base: Seq[String],
                           extraKeep: Seq[String] = Seq.empty): Seq[String] =
    headVersion.toSeq.flatMap { h =>
      // `extraKeep` is for non-data paths whose sidecar lines ride with
      // the manifest they are carried by — delete-vector files keep
      // their `rows` lines exactly as long as their `#del=` lines live
      val baseSet = base.toSet ++ extraKeep
      sidecarLines(dir, h)
        .filter(l => baseSet.contains(l.takeWhile(_ != '\t')))
    }

  /** Commit a batch in the FULL landing shape: the batch is z-ordered on
    * `zCols` ([[Layout.writeZordered]] — quantile rank buckets → Morton
    * code → one range shuffle, so each file covers a tight hyper-box),
    * then published with per-file stats CARRIED FORWARD incrementally:
    * stats lines for files inherited from the previous head are copied
    * from its stats file, and only the NEW batch's files are scanned —
    * per-commit stats cost is O(batch), never O(table), which is what
    * makes stats maintenance viable on a 100 TB landing. Clustered files
    * + manifest stats is the combination that makes [[prunedRead]]
    * actually skip: z-order gives files disjoint ranges, stats make the
    * ranges visible at planning time. */
  def commitClustered(df: DataFrame, dir: String, zCols: Seq[String],
                      statCols: Seq[String], numFiles: Int = 16,
                      bitsPerDim: Int = 6, append: Boolean = true): Int = {
    val spark = df.sparkSession
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    Layout.writeZordered(df, zCols, batchDir, numFiles, bitsPerDim)
    val newFiles = io.list(batchDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$batchDir/$n")
    validateConstraints(spark, dir, newFiles, userBatch = true)
    // the new files' stats need a scan — do it ONCE, outside the OCC
    // loop; a partition-declared table keeps its transform stats too, so
    // a z-ordered landing never silently drops bucket pruning
    // writeZordered writes exactly `df`'s columns
    val phys = physOf(df)
    val newStats = statsLines(spark, dir, newFiles,
      (statCols ++ partitioningOf(dir).flatMap(_.statNames)).distinct,
      cbo = cboOnCommit(dir), known = Some(phys))
    if (!append) {
      val v = publish(dir, versions(dir).lastOption.getOrElse(0) + 1,
        s"#ts=${now()}" +: (schemaHeader(Seq.empty, Seq(phys),
          replacesAll = true) ++ newFiles))
      if (!io.exists(batchDir)) { // the same stalled-past-grace guard
        io.delete(manifestPath(dir, v)) // as [[publishOnHeadTxn]]'s
        throw new IllegalStateException(
          s"commit to $dir aborted: batch directory $batchDir vanished " +
            "before publish — writer stalled past the vacuum grace window")
      }
      io.writeLines(statsPath(dir, v),
        rowsHeaderLine(sumRows(newStats), 0L) +: newStats)
      v
    } else {
      // same segmented-append shape as [[commit]]: batch bulk in new
      // segments once, head bulk carried as pointers
      val cov = coversOf(newStats)
      val newSeg = segLine(dir, newFiles, cov)
      val newStatsSeg = segLine(dir, newStats, cov)
      var headAt: Option[Int] = None
      val v = publishOnHeadRaw(dir, guardFiles = newFiles) { head =>
        headAt = head
        s"#ts=${now()}" +: (carryManifest(dir, head, Seq(phys)) ++ newSeg)
      }
      val hdr = (headAt match {
        case None => Some((0L, 0L))
        case some => headerOrUpgrade(dir, some)
      }).map { case (d, del) =>
        rowsHeaderLine(d + sumRows(newStats), del)
      }.toSeq
      io.writeLines(statsPath(dir, v),
        hdr ++ carrySidecar(dir, headAt) ++ newStatsSeg)
      v
    }
  }

  /** (file → (tag, min, max)) for `col` at `version`; empty if no stats.
    * Legacy 4-field lines (untagged doubles) and non-range lines (bloom
    * filters) are ignored — absent stats degrade to keeping the file,
    * never to a misread bound. */
  /** Sidecar tags that carry RANGE bounds (min/max pruning). Everything
    * else — `bloom` bitmaps, `nulls` counts, `hll` NDV sketches — shares
    * the line format but must never be read as a bound: a parser that
    * merely excluded "bloom" would let a later-added tag silently
    * OVERWRITE a file's num line in the per-file fold. */
  private[sinks] val RangeTags = Set("num", "str", "null", "wild")

  private def statsOf(dir: String, version: Int,
                      column: String): Map[String, (String, String, String)] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, c, tag, lo, hi)
        if c == column && RangeTags(tag) => f -> ((tag, lo, hi))
      }
      .toMap

  /** (file → (mBits, k, bitset)) bloom lines for `col` at `version`. */
  private def bloomsOf(dir: String, version: Int, column: String)
      : Map[String, (Int, Int, java.util.BitSet)] =
    sidecarLines(dir, version)
      .map(_.split('\t').toSeq)
      .collect { case Seq(f, c, "bloom", cfg, b64) if c == column =>
        val Array(m, k) = cfg.split(':').map(_.toInt)
        f -> ((m, k, java.util.BitSet.valueOf(
          java.util.Base64.getDecoder.decode(b64))))
      }
      .toMap

  /** Does a file with stored stats (tag, mn, mx) possibly intersect the
    * query range [lo, hi]? Typed comparison per tag family; any mismatch
    * (null tag, bound type vs column type, unparseable) keeps the file —
    * the superset guarantee is the one invariant pruning must never
    * trade away. */
  /** stored-upper >= query bound, typed per tag family; any mismatch
    * (null tag, bound type vs column type, unparseable) keeps the file —
    * the superset guarantee is the one invariant pruning must never
    * trade away. Both string sides are DECODED before ordering:
    * URL-encoding is not order-preserving (' ' → '+', punctuation →
    * %XX), so comparing a decoded stored bound against an encoded query
    * bound can wrongly prune a file that contains the probed string. */
  private def boundGeq(tag: String, mxS: String, q: Any): Boolean =
    (tag, StatValue.encodeBound(q)) match {
      case ("num", Some(("num", qe))) =>
        try BigDecimal(mxS) >= BigDecimal(qe)
        catch { case _: NumberFormatException => true }
      case ("str", Some(("str", qe))) =>
        // UTF-8 byte order, NOT Java's UTF-16 compareTo: the stored
        // bounds came from Spark's min/max (UTF8String binary order) and
        // the predicate the file must survive evaluates in that same
        // order — beyond the BMP the two orders disagree, and a UTF-16
        // comparison here would wrongly prune a file whose only row
        // (e.g. U+1F600) satisfies `s >= ''`
        StatValue.utf8Compare(
          StatValue.decodeStr(mxS), StatValue.decodeStr(qe)) >= 0
      case _ => true
    }

  /** stored-lower <= query bound — the other half of [[boundGeq]]. */
  private def boundLeq(tag: String, mnS: String, q: Any): Boolean =
    (tag, StatValue.encodeBound(q)) match {
      case ("num", Some(("num", qe))) =>
        try BigDecimal(mnS) <= BigDecimal(qe)
        catch { case _: NumberFormatException => true }
      case ("str", Some(("str", qe))) =>
        StatValue.utf8Compare(
          StatValue.decodeStr(mnS), StatValue.decodeStr(qe)) <= 0
      case _ => true
    }

  private def mayIntersect(stat: (String, String, String),
                           lo: Any, hi: Any): Boolean = {
    val (tag, mnS, mxS) = stat
    boundGeq(tag, mxS, lo) && boundLeq(tag, mnS, hi)
  }

  /** [[mayIntersect]] with OPTIONAL bounds — the shape SQL pushdown
    * produces (`ts >= x` has no upper bound). A missing side constrains
    * nothing. */
  private def mayIntersectOpt(stat: (String, String, String),
                              lo: Option[Any], hi: Option[Any]): Boolean = {
    val (tag, mnS, mxS) = stat
    lo.forall(boundGeq(tag, mxS, _)) && hi.forall(boundLeq(tag, mnS, _))
  }

  /** Manifest-level file skipping for PUSHED-DOWN predicates — the seam
    * the SQL catalog's scan builder calls with whatever conjunctive
    * ranges and equality probes it could translate from a query's WHERE
    * clause. `ranges` are optionally-bounded per-column intervals (ANDed);
    * `eqs` are per-column probe-value sets, each resolved through the
    * full equality stack ([[prunedFilesEq]]: range stats + blooms +
    * declared bucket transform). Untranslatable predicates simply don't
    * appear — pruning stays a superset guarantee, Spark still evaluates
    * the exact predicates on the surviving files. */
  private[graft] def prunedFilesPushed(spark: SparkSession, dir: String,
      version: Int, ranges: Seq[(String, Option[Any], Option[Any])],
      eqs: Seq[(String, Seq[Any])]): Seq[String] = {
    val raw = rawManifest(dir, version)
    val keep = rangePruned(dir, version, raw, ranges)
    eqs.foldLeft(keep) { case (acc, (c, vs)) =>
      val admit = eqPruned(spark, dir, version, raw, c, vs).toSet
      acc.filter(admit)
    }
  }

  /** Declared table schema (SQL `CREATE TABLE` writes it; a table that
    * exists only as a declaration — no commits yet — still resolves in
    * the catalog with this schema). Stored as a MONOTONE CHAIN of
    * exclusively-created one-line JSON files (`schema/d1, d2, …`; the
    * highest index is current) so a concurrent redeclaration is a
    * first-wins RACE, not a silent overwrite: ALTER rides
    * [[casDeclareSchema]], which refuses when it lost — a plain
    * `writeLines` here was the catalog's last check-then-act door (two
    * concurrent ALTERs: the loser's change silently vanished). Legacy
    * single-file `schema.json` tables read through the fallback; their
    * first chain write shadows the old file. Superseded chain entries
    * are best-effort pruned behind a tail deep enough that no
    * concurrent reader's just-listed head can vanish before its read. */
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

  private def chainState(dir: String): (Int, Option[String]) =
    chainHead(schemaChainDir(dir), "d") match {
      case (n, Some(lines)) => (n, lines.headOption)
      case (_, None) =>
        val legacy = s"${manifestDir(dir)}/schema.json"
        (0,
          if (!io.exists(legacy)) None else io.readLines(legacy).headOption)
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
    * the old single-file read-modify-write silently dropped an entry
    * when two DROPs raced — and a lost retirement is the dangerous
    * direction (a later ADD could reuse the physical name and serve the
    * dropped column's stale bytes). Legacy single-file ledgers read
    * through the fallback union. */
  private def retiredPath(dir: String) = s"${manifestDir(dir)}/retired"
  private def retiredDir(dir: String) = s"${manifestDir(dir)}/retired.d"

  def retiredColumns(dir: String): Seq[(Long, String)] = {
    val p = retiredPath(dir)
    val legacy =
      if (!io.exists(p)) Seq.empty
      else io.readLines(p).filter(_.nonEmpty).map { l =>
        val Array(id, phys) = l.split('\t')
        (id.toLong, phys)
      }
    val entries = io.list(retiredDir(dir)).flatMap { n =>
      io.readLines(s"${retiredDir(dir)}/$n").filter(_.nonEmpty).map { l =>
        val Array(id, phys) = l.split('\t')
        (id.toLong, phys)
      }
    }
    (legacy ++ entries).distinct.sortBy(_._1)
  }

  def retireColumn(dir: String, id: Long, physical: String): Unit = {
    io.mkdirs(retiredDir(dir))
    var k = 0
    while (!io.createExclusive(s"${retiredDir(dir)}/r$id-$k",
      Seq(s"$id\t$physical"))) k += 1
  }

  /** Whether any head-version file carries a bloom sidecar line for
    * `column` — the gate ALTER COLUMN TYPE widening checks: bloom
    * positions hash the column's VALUE BYTES by type, so a widened probe
    * (long vs the int the filter was built from) would silently stop
    * matching and pruning would drop live files. */
  def hasBloomStats(dir: String, column: String): Boolean =
    versions(dir).lastOption.exists(v => bloomsOf(dir, v, column).nonEmpty)

  /** Schema of the table AT `version`'s vintage: inferred from the newest
    * files INTRODUCED at or before `version` (walking back past
    * file-less commits such as pure deletes). Whole-table parquet
    * inference picks an ARBITRARY file's footer under mixed-vintage
    * history — fine for uniform tables, nondeterministic the moment a
    * column was re-typed — so anything that PINS a schema (the stream
    * source's conformance contract) must anchor here instead. */
  private[graft] def vintageSchema(spark: SparkSession, dir: String,
      version: Int): org.apache.spark.sql.types.StructType = {
    val vs = versions(dir).filter(_ <= version).reverse
    require(vs.nonEmpty, s"no version at or before v$version of $dir")
    val intro = vs.view.map { v =>
      val prev = vs.find(_ < v).map(filesOf(dir, _).toSet)
        .getOrElse(Set.empty[String])
      filesOf(dir, v).filterNot(prev)
    }.find(_.nonEmpty)
    val files = intro.getOrElse {
      val f = filesOf(dir, vs.head)
      require(f.nonEmpty, s"no data files at or before v$version of $dir")
      f
    }
    spark.read.parquet(files: _*).schema
  }

  /** Read a snapshot with manifest-level file skipping: files whose
    * [min, max] for `column` cannot intersect [lo, hi] are dropped from
    * the scan BEFORE Spark sees them; files without stats are kept
    * (pruning must never lose rows). The caller still applies its exact
    * predicate — stats pruning is a superset guarantee, same contract as
    * parquet row-group skipping one level up. Bounds are typed: numbers
    * for numeric columns, `java.sql.Date`/`LocalDate` for dates,
    * `Timestamp`/`Instant` for timestamps, strings for string columns. */
  def prunedRead(spark: SparkSession, dir: String, column: String,
                 lo: Any, hi: Any,
                 version: Option[Int] = None): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val raw = rawManifest(dir, v)
    val keep = rangePruned(dir, v, raw, Seq((column, Option(lo), Option(hi))))
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    // the full delete set is applied — vectors for pruned files simply
    // match nothing (anti-join keys are file paths)
    else readLive(spark, dir, raw, keep)
  }

  /** Candidate file lines of a version with SEGMENT-LEVEL skipping: a
    * pointer whose recorded cover satisfies `drop` loses its whole
    * segment UNREAD — the manifest-list move that makes selective
    * planning O(matching segments + headers) instead of O(table files).
    * `drop` must be sound against a TRUE cover (covers enclose every
    * payload file's range by construction), so dropping never violates
    * the superset guarantee. */
  private def coverPrunedFiles(raw: Seq[String],
      drop: Map[String, (String, String, String)] => Boolean)
      : Seq[String] =
    raw.flatMap { l =>
      if (segRef(l)) {
        if (drop(segCovers(l))) Seq.empty else readSegment(segPath(l))
      } else Seq(l)
    }.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Range-pruned files: segment-level cover skip, then per-file stats
    * refinement — the sidecar's disjoint segments are skipped by the
    * same covers (their files are already out of the candidate list). */
  private def rangePruned(dir: String, version: Int, raw: Seq[String],
      ranges: Seq[(String, Option[Any], Option[Any])]): Seq[String] = {
    def disjoint(covers: Map[String, (String, String, String)]): Boolean =
      ranges.exists { case (c, lo, hi) =>
        covers.get(c).exists(cov => !mayIntersectOpt(cov, lo, hi))
      }
    val candidates = coverPrunedFiles(raw, disjoint)
    if (ranges.isEmpty) return candidates
    val sp = statsPath(dir, version)
    val statLines =
      if (!io.exists(sp)) Seq.empty
      else io.readLines(sp).flatMap { l =>
        if (segRef(l)) {
          if (disjoint(segCovers(l))) Seq.empty else readSegment(segPath(l))
        } else Seq(l)
      }
    val cols = ranges.map(_._1).toSet
    val statsByCol = statLines.map(_.split('	').toSeq).collect {
      case Seq(f, c, tag, lo, hi) if cols.contains(c) && RangeTags(tag) =>
        (c, f, (tag, lo, hi))
    }.groupBy(_._1)
      .map { case (c, xs) => c -> xs.map(x => (x._2, x._3)).toMap }
    candidates.filter { f =>
      ranges.forall { case (c, lo, hi) =>
        statsByCol.get(c).flatMap(_.get(f))
          .forall(mayIntersectOpt(_, lo, hi))
      }
    }
  }

  /** Files `prunedRead` would scan — exposed so specs (and operators) can
    * assert the skipping itself, not just result correctness. */
  private[graft] def prunedFiles(dir: String, version: Int, column: String,
                                 lo: Any, hi: Any): Seq[String] =
    rangePruned(dir, version, rawManifest(dir, version),
      Seq((column, Option(lo), Option(hi))))

  /** Multi-predicate file skipping: a file survives only if EVERY
    * (column, lo, hi) range may intersect its stats — the conjunctive
    * form real scans take ("this date slice AND this id band"), and the
    * shape that makes z-ordered landings pay off on more than one
    * dimension at the manifest level. Same superset guarantee per
    * predicate; an empty predicate list reads the whole snapshot. */
  def prunedReadAll(spark: SparkSession, dir: String,
                    predicates: Seq[(String, Any, Any)],
                    version: Option[Int] = None): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val raw = rawManifest(dir, v)
    val keep = rangePruned(dir, v, raw,
      predicates.map { case (c, lo, hi) => (c, Option(lo), Option(hi)) })
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readLive(spark, dir, raw, keep)
  }

  private[graft] def prunedFilesAll(dir: String, version: Int,
      predicates: Seq[(String, Any, Any)]): Seq[String] =
    rangePruned(dir, version, rawManifest(dir, version),
      predicates.map { case (c, lo, hi) => (c, Option(lo), Option(hi)) })

  // ---- bloom-filter file skipping (point lookups / IN-lists) ----

  /** Per-file bloom filters for `bloomCols`, appended to `version`'s stats
    * file as `bloom` lines — the skipping index min/max CANNOT provide:
    * on a high-cardinality key that isn't the clustering axis, every
    * file's [min, max] spans the whole domain and a point lookup scans
    * the table; a bloom answers "might this FILE contain this key?" at
    * planning time, so `WHERE id = x` touches ~1 file out of thousands.
    *
    * Scale shape: ONE scan of the target files builds every filter — per
    * row, k positions (`pmod(xxhash64(seed, col), m)`), aggregated as a
    * bounded per-file distinct-position set (≤ m/8 bytes of state per
    * file by construction, the map-side partial dedupes). Incremental:
    * only files LACKING a bloom line are scanned, so the maintenance call
    * after each append costs O(new files) — same discipline as the stats
    * carry-forward. Size `mBits` at ~10+ bits per expected distinct per
    * file (default suits ~10^4; a 10^7-row file wants 1 << 27).
    *
    * Nulls: a null key never matches an equality probe, so null positions
    * (xxhash64 of an all-null input degrades to the seed) only cost a bit
    * of fill, never correctness. Probing FOR null is not a bloom question
    * (`IS NULL` is a range-stats question — the `null` tag). */
  def writeBlooms(spark: SparkSession, dir: String, version: Int,
                  bloomCols: Seq[String], mBits: Int = 1 << 18,
                  k: Int = 5): Unit = {
    // pmod (not bit-masking) keeps any modulus mathematically sound, so
    // power-of-two m is a sizing convention, not a requirement — the
    // guard only pins the byte-array layout (whole bytes) and a floor.
    require(mBits >= 64 && mBits % 8 == 0,
      s"mBits must be >= 64 and a multiple of 8: $mBits")
    val p = statsPath(dir, version)
    val existing = if (io.exists(p)) io.readLines(p) else Seq.empty
    val raw = rawManifest(dir, version)
    val files = filesIn(raw)
    // The bitmap is OR-folded on the EXECUTORS (fixed m/8-byte buffer per
    // file, map-side partials merge before the shuffle); the driver
    // collects only the ~m/8-byte finished bitmap per file. Collecting
    // position SETS instead (the obvious collect_set) approaches
    // m/8 * 32 bits of driver transfer per near-full file — a full-table
    // build over 10^5 files would push the whole index through one
    // collect.
    val bloomAgg = udaf(new BloomBitsAgg(mBits),
      org.apache.spark.sql.Encoders.scalaLong)
    val newLines = bloomCols.flatMap { c =>
      val have = bloomsOf(dir, version, c).keySet
      val need = files.filterNot(have)
      if (need.isEmpty) Seq.empty
      else {
        val posArr = array((0 until k).map(s =>
          pmod(xxhash64(lit(s), col(c)), lit(mBits.toLong))): _*)
        // chunked like statsLines: the collect carries a finished m/8-
        // byte bitmap PER FILE, so one pass over a 100k-file table would
        // still pull files x m/8 bytes (e.g. 3 GB at the default m)
        // through a single collect — bound it per chunk instead. The
        // full-set schema pins every chunk (a chunk of pre-evolution
        // files may lack the bloom column; the explicit schema serves it
        // as nulls instead of failing to resolve).
        val pinned = Some(physSchemaOf(dir, raw)
          .getOrElse(scan(spark, need, None).schema))
        need.grouped(StatsChunkFiles).toSeq.flatMap { chunk =>
          scan(spark, chunk, pinned)
            .select(plainPath.as("__file"), explode(posArr).as("pos"))
            .groupBy(col("__file")).agg(bloomAgg(col("pos")).as("bits"))
            .collect().toSeq
            .map { r =>
              val b64 = java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](1))
              s"${r.getString(0)}\t$c\tbloom\t$mBits:$k\t$b64"
            }
        }
      }
    }
    if (newLines.nonEmpty) io.writeLines(p, existing ++ newLines)
  }

  /** Files a probe for any of `values` on `column` must scan: bloom says
    * no → skip; no bloom, or all k positions set for SOME value → keep
    * (min/max range stats are ALSO consulted — both layers are superset
    * guarantees and compose). Probe positions are computed by the ENGINE
    * (one 1-row job casting each value to the column's own type), so
    * build and probe hash identically by construction. */
  private[graft] def prunedFilesEq(spark: SparkSession, dir: String,
      version: Int, column: String, values: Seq[Any]): Seq[String] =
    eqPruned(spark, dir, version, rawManifest(dir, version), column, values)

  /** [[prunedFilesEq]] over version `version`'s already-read manifest. */
  private def eqPruned(spark: SparkSession, dir: String, version: Int,
      raw: Seq[String], column: String, values: Seq[Any]): Seq[String] = {
    require(values.nonEmpty && values.forall(_ != null),
      "equality pruning needs non-null probe values")
    // segment-level skip first: a segment whose cover excludes EVERY
    // probe value cannot hold a match — dropped unread, same soundness
    // as the range path (covers are true enclosures)
    val files = coverPrunedFiles(raw, covers =>
      covers.get(column).exists(cov =>
        values.forall(v => !mayIntersect(cov, v, v))))
    if (files.isEmpty) return files
    val blooms = bloomsOf(dir, version, column)
    val stats = statsOf(dir, version, column)
    // a bucket transform on the probed column adds a third pruning
    // layer: each file's derived bucket-id range admits ~1/n of the key
    // space, with NO per-key index built — the landing's own clustering
    // is the index. Partition-spec EVOLUTION makes this per-file: the
    // candidate transforms are the currently-declared bucket PLUS every
    // bucket spec the stats sidecar itself records for this column, so
    // files landed under an old bucket(8,k) keep pruning by THEIR
    // vintage after the table re-declares bucket(16,k) — each file is
    // tested only against specs it has stats for (superset otherwise).
    val bucketSpecs: Seq[PartitionTransform.Bucket] =
      (partitioningOf(dir).collect { case b: PartitionTransform.Bucket
        if b.source == column => b } ++
        statColsOf(dir, version).flatMap(PartitionTransform.parseOpt)
          .collect { case b: PartitionTransform.Bucket
            if b.source == column => b }).distinct
    val bucketStats: Seq[(PartitionTransform.Bucket,
        Map[String, (String, String, String)])] =
      bucketSpecs.map(b => b -> statsOf(dir, version, b.spec))
        .filter(_._2.nonEmpty)
    if (blooms.isEmpty && stats.isEmpty && bucketStats.isEmpty) return files
    // the type the files were WRITTEN with (bucket ids and bloom
    // positions hash by it): the `#schema=` header when every file
    // carries one schema, else the first file's footer — never the
    // declaration, which a widened column has moved past old files
    val dt = schemaIn(raw)
      .getOrElse(scan(spark, Seq(files.head), None).schema)(column).dataType
    // probe bucket ids per spec vintage, hashed by the ENGINE through
    // the same expression each landing clustered with — build and probe
    // agree by construction; ONE tiny job covers every (spec, value)
    val bucketOk: String => Boolean =
      if (bucketStats.isEmpty) _ => true
      else {
        val exprs = for { (b, _) <- bucketStats; v <- values }
          yield pmod(hash(lit(v).cast(dt)), lit(b.n)).cast("int")
        val row = spark.range(1).select(exprs: _*).head()
        val bidsBySpec: Seq[(Map[String, (String, String, String)], Seq[Int])] =
          bucketStats.zipWithIndex.map { case ((_, bstats), i) =>
            bstats -> values.indices
              .map(j => row.getInt(i * values.size + j)).distinct
          }
        f => bidsBySpec.forall { case (bstats, bids) =>
          bstats.get(f).forall(st => bids.exists(id => mayIntersect(st, id, id)))
        }
      }
    // positions per (m, k) config present among the files (configs can
    // differ across maintenance eras); one tiny job computes them all
    val configs = blooms.values.map(v => (v._1, v._2)).toSet.toSeq
    val posByConfig: Map[(Int, Int), Seq[Seq[Int]]] =
      if (configs.isEmpty) Map.empty
      else {
        val exprs = for {
          (m, kk) <- configs; v <- values; s <- 0 until kk
        } yield pmod(xxhash64(lit(s), lit(v).cast(dt)), lit(m.toLong))
          .cast("int")
        val row = spark.range(1).select(exprs: _*).head()
        var i = -1
        configs.map { case (m, kk) =>
          (m, kk) -> values.map(_ =>
            (0 until kk).map { _ => i += 1; row.getInt(i) })
        }.toMap
      }
    files.filter { f =>
      val rangeOk = values.exists(v =>
        stats.get(f).forall(mayIntersect(_, v, v)))
      val bloomOk = blooms.get(f) match {
        case None => true
        case Some((m, kk, bits)) =>
          posByConfig((m, kk)).exists(_.forall(bits.get))
      }
      rangeOk && bloomOk && bucketOk(f)
    }
  }

  /** Point-lookup / IN-list read with bloom + range file skipping — the
    * needle-in-100-TB scan: `WHERE key IN (...)` resolves to the handful
    * of files whose filters admit a probe, before Spark plans anything.
    * The caller still applies the exact predicate (superset guarantee;
    * bloom false positives cost a file scan, never a wrong row). Delete
    * vectors apply as in every read. */
  def prunedReadIn(spark: SparkSession, dir: String, column: String,
                   values: Seq[Any], version: Option[Int] = None)
      : DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val raw = rawManifest(dir, v)
    val keep = eqPruned(spark, dir, v, raw, column, values)
    if (keep.isEmpty) read(spark, dir, Some(v)).limit(0)
    else readLive(spark, dir, raw, keep)
  }

  /** Manifest-level join pruning — static DPP one storage level up: ONE
    * tiny aggregate collects the (filtered) dimension's key range, and
    * the fact snapshot's file list shrinks to the files whose stats may
    * contain it BEFORE Spark ever plans the join. On a landing clustered
    * by the join key this is the difference between scanning the table
    * and scanning the handful of files the dimension actually touches.
    * Intended for the inner-join shape (`fact JOIN dim ON fact.k = dim.k`):
    * an empty dimension yields an empty read, and the join still applies
    * the exact condition — range pruning is a superset guarantee, not a
    * membership test. */
  def prunedReadByDim(spark: SparkSession, factDir: String, factCol: String,
                      dim: DataFrame, dimCol: String,
                      version: Option[Int] = None): DataFrame = {
    val r = dim.agg(min(col(dimCol)), max(col(dimCol))).head()
    if (r.isNullAt(0)) read(spark, factDir, version).limit(0)
    else prunedRead(spark, factDir, factCol, r.get(0), r.get(1), version)
  }

  /** The `#`-prefixed metadata header lines of a version's manifest
    * (segment pointers are storage layout, not headers — excluded). */
  private def metaOf(dir: String, version: Int): Seq[String] =
    io.readLines(manifestPath(dir, version))
      .filter(l => l.startsWith("#") && !segRef(l))

  /** Column names a version's stats file covers (empty if none). The
    * `#` pseudo-column (per-file row counts) is table metadata, not a
    * stats-tracked column — inheriting it into a statsLines scan would
    * try to aggregate a column that doesn't exist. */
  private def statColsOf(dir: String, version: Int): Seq[String] =
    sidecarLines(dir, version).map(_.split('\t'))
      .collect { case a if a.length >= 2 && a(1) != "#" => a(1) }.distinct

  /** The parquet files a write landed under `dir`, sorted. */
  private def parquetIn(dir: String): Seq[String] =
    io.list(dir).filter(_.endsWith(".parquet")).sorted.map(n => s"$dir/$n")

  /** The one commit of every copy-on-write rewrite ([[merge]],
    * [[mergeChanges]], [[mergeInto]], [[compact]] and its scoped forms,
    * [[optimizeZorder]]): publish "the files `replaced` of version `head`
    * (raw manifest `raw`) are now `newFiles`" on the OCC head. `newFiles`
    * were written from a frame of physical schema `phys`; they get stats
    * for `statCols` (row counts only when empty).
    *
    * Deletes: the rewrite materialized every delete of the replaced
    * files. Positional vectors of kept files survive, consolidated into
    * one vector (carried as they are when nothing is replaced); an
    * equality delete survives while it still applies to a kept file.
    *
    * Each attempt refuses a head whose delete state moved since `raw` —
    * a delete landing mid-rewrite references files this rewrite already
    * copied without it, so carrying it would half-apply it and dropping
    * it would resurrect rows ([[SnapshotShapeConflict]], worded with `op`
    * and `rerun`). `onHead` runs the caller's own checks on the fresh
    * head's raw manifest first. With `txnId` the commit is exactly-once:
    * a live writer that already landed the same transaction wins, and
    * its version is returned (this rewrite's files are orphan-sweep
    * debris). Returns the version. */
  private def publishRewrite(spark: SparkSession, dir: String, op: String,
      rerun: String, head: Int, raw: Seq[String], replaced: Set[String],
      newFiles: Seq[String], phys: StructType, statCols: Seq[String],
      txnId: Option[String] = None,
      onHead: Seq[String] => Unit = _ => ()): Int = {
    val dels = delsIn(raw)
    val eqs = eqDelsIn(raw)
    val kept = filesIn(raw).filterNot(replaced)
    val survivorDel: Seq[String] =
      if (dels.isEmpty || replaced.isEmpty) dels
      else if (kept.isEmpty) Seq.empty
      else {
        val survivors = readDelVectors(spark, dels)
          .filter(col("file_path").isInCollection(kept))
        val sDir = s"$dir/deletes/${java.util.UUID.randomUUID}"
        survivors.coalesce(1).write.parquet(sDir)
        val out = parquetIn(sDir)
        // emptiness from the footers (driver-local) — re-reading the
        // just-written vector was one extra Spark job per rewrite
        if (footerRowCounts(spark, out).values.sum == 0L) {
          io.list(sDir).foreach(n => io.delete(s"$sDir/$n"))
          io.delete(sDir)
          Seq.empty
        } else out
      }
    // a surviving equality delete must still APPLY to a kept file
    // (otherwise it would linger forever and keep expire refusing); files
    // appended after `head` never count — every delete here predates them
    val liveEq =
      if (eqs.isEmpty) eqs
      else {
        val keptAdded = addedAtOf(dir, kept)
        eqs.filter { case (s, _, _) =>
          kept.exists(f => keptAdded.getOrElse(f, 0) < s)
        }
      }
    val added = if (newFiles.isEmpty) Seq.empty else Seq(phys)
    val newStats =
      if (newFiles.isEmpty) Seq.empty
      else if (statCols.isEmpty) rowsLines(spark, newFiles)
      else statsLines(spark, dir, newFiles, statCols, cbo = cboOnCommit(dir),
        known = Some(phys))
    val delRows = rowsLines(spark, survivorDel)
    // the old vectors' rows lines drop with the replaced files' (the
    // survivors re-land theirs); untouched segments ride verbatim
    val removed = replaced ++ dels
    val newSeg = segLine(dir, newFiles, coversOf(newStats))
    val newStatsSeg = segLine(dir, newStats ++ delRows,
      coversOf(newStats ++ delRows))
    var carried: Seq[String] = Seq.empty
    var dropped: Map[String, Long] = Map.empty
    var headAt: Option[Int] = None
    publishOnHeadTxn(dir, txnId, guardFiles = newFiles ++ survivorDel) { h =>
      val hRaw = h.toSeq.flatMap(rawManifest(dir, _))
      if (delsIn(hRaw).toSet != dels.toSet)
        throw new SnapshotShapeConflict(
          s"delete vectors changed during $op; $rerun against the new head")
      onHead(hRaw)
      if (eqDelsIn(hRaw).toSet != eqs.toSet)
        throw new SnapshotShapeConflict(
          s"equality deletes changed during $op; $rerun against the new head")
      headAt = h
      val (c, dr) = carrySidecarExcept(dir, h, removed)
      carried = c; dropped = dr
      // carry the head's txn ledger forward but stamp our OWN wall clock —
      // the rewritten snapshot is a new commit, not a re-dating of the old
      hRaw.filter(_.startsWith("#txn=")) ++ txnId.map(t => s"#txn=$t") ++
        Seq(s"#ts=${now()}") ++
        survivorDel.map(f => s"#del=$f") ++
        liveEq.map { case (s, c, p) => s"#eqdel=$s\t$c\t$p" } ++
        carryManifestExcept(dir, hRaw, removed, replaced, added) ++ newSeg
    } match {
      case Left(existing) => existing
      case Right(v) =>
        io.writeLines(statsPath(dir, v),
          rewriteHeader(dir, headAt, replaced, dels.toSet, dropped,
            sumRows(newStats), sumRows(delRows)) ++ carried ++ newStatsSeg)
        v
    }
  }

  /** Bin-pack compaction — the maintenance op a streaming landing needs
    * most: after 10^5 [[commitOnce]] micro-batches the head manifest
    * lists 10^5 tiny file groups, and every reader pays for them. This
    * rewrites the head's files smaller than `targetBytes` into
    * ~target-sized ones and publishes the result as a NEW snapshot whose
    * manifest swaps the rewritten subset — a LOGICAL rewrite: the small
    * files stay on disk, pinned versions still read them, and [[expire]]
    * GCs them once no retained manifest references them (the
    * land-then-maintain separation, same as the directory-swap
    * [[Compaction]] but protocol-native and non-destructive).
    *
    * Scale shape: the rewrite is shuffle-free (`coalesce` merges read
    * partitions in place), stats stay O(affected) — carried lines cover
    * kept files, one scan covers the rewritten output — and the head's
    * `#`-metadata (streaming txn ids) rides into the new manifest, so
    * compacting never shortens the exactly-once replay ledger. OCC: a
    * concurrent append that lands mid-compact survives, because every
    * publish attempt re-resolves the head and keeps any file it didn't
    * rewrite. Returns the new version (or the head unchanged when fewer
    * than `minInputFiles` files are under target). */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              minInputFiles: Int = 2,
              statCols: Seq[String] = Seq.empty): Int =
    compactScoped(spark, dir, targetBytes, minInputFiles, statCols,
      Seq.empty)

  /** Predicate-scoped compaction — [[compact]] restricted to the files a
    * conjunctive set of `(column, lo, hi)` range predicates ADMITS
    * through the stats layer ([[prunedFilesAll]]: range stats + segment
    * covers, the same superset-guaranteed admission scans use). The
    * 100 TB shape this exists for: a streaming table accumulates small
    * files in today's partition only — `compactWhere(_, dir,
    * Seq(("ts", dayLo, dayHi)), target)` rewrites THAT slice and
    * nothing else, so maintenance cost tracks the hot window, never
    * table size. Admission is a superset (files that merely MIGHT
    * intersect rewrite too — harmless: a rewrite preserves rows), and
    * everything else is the [[compact]] contract verbatim: deletes
    * materialize for rewritten files and consolidate/carry for kept
    * ones, untouched manifest segments ride verbatim (O(affected)
    * metadata), OCC retries shape conflicts, pinned versions still read
    * the old files. SQL: `CALL graft.compact_where(dir, column, lo, hi,
    * target_bytes)`. */
  def compactWhere(spark: SparkSession, dir: String,
                   predicates: Seq[(String, Any, Any)], targetBytes: Long,
                   minInputFiles: Int = 2,
                   statCols: Seq[String] = Seq.empty): Int = {
    require(predicates.nonEmpty,
      "compactWhere needs at least one (column, lo, hi) predicate; " +
        "use compact() for the whole table")
    compactScoped(spark, dir, targetBytes, minInputFiles, statCols,
      predicates)
  }

  /** Predicate-scoped MULTI-KEY clustering — [[optimizeZorder]]
    * restricted to the files a conjunctive `(column, lo, hi)` scope
    * ADMITS through the stats layer, exactly [[compactWhere]]'s
    * admission (and its degenerate-scope refusals: un-encodable bounds,
    * a type-family mismatch, or a column with no range stats would
    * silently admit — and rewrite — the whole table, so they refuse
    * loudly). The 100 TB shape this exists for: a hot slice (today's
    * partition, one tenant's key range) that needs genuinely
    * multi-dimensional layout gets it at O(slice) — every in-scope live
    * file rewrites range-partitioned and sorted by the Morton value of
    * `zCols` ([[Layout.writeZordered]]), while out-of-scope files
    * survive byte-identical; [[optimizeZorder]]'s whole-table rewrite
    * stays for global re-layout. Output file count is sized by
    * `targetBytes` like every compaction. Deletes touching the rewritten
    * files materialize; vectors for kept files consolidate and carry;
    * stats for `zCols` are recorded alongside the head's tracked columns
    * (clustering without stats would skip nothing). SQL:
    * `CALL graft.zorder_where(dir, column, lo, hi, zcols, target_bytes)`. */
  def zorderWhere(spark: SparkSession, dir: String,
                  predicates: Seq[(String, Any, Any)], zCols: Seq[String],
                  targetBytes: Long, bitsPerDim: Int = 6): Int = {
    require(predicates.nonEmpty,
      "zorderWhere needs at least one (column, lo, hi) predicate; " +
        "use optimizeZorder() for the whole table")
    require(zCols.nonEmpty, "zorderWhere needs at least one cluster column")
    compactScoped(spark, dir, targetBytes, minInputFiles = 1,
      statCols = Seq.empty, predicates, zorder = Some((zCols, bitsPerDim)))
  }

  private def compactScoped(spark: SparkSession, dir: String,
      targetBytes: Long, minInputFiles: Int, statCols: Seq[String],
      scope: Seq[(String, Any, Any)],
      zorder: Option[(Seq[String], Int)] = None): Int = retryingShape(3) {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    // A scope whose bounds can't meet the stats layer (unencodable
    // values, a type-family mismatch against the column's recorded
    // tags, or no range stats at all) would silently admit EVERY file —
    // turning the "O(hot slice)" call into a full-table rewrite. Refuse
    // loudly instead: the superset guarantee is fine for a scan, but a
    // rewrite's cost must never ride on a degenerate admission.
    val what = if (zorder.isDefined) "zorderWhere" else "compactWhere"
    scope.foreach { case (c, lo, hi) =>
      val fam = (StatValue.encodeBound(lo), StatValue.encodeBound(hi)) match {
        case (Some((tl, _)), Some((th, _))) if tl == th => tl
        case _ => throw new IllegalArgumentException(
          s"$what: bounds for '$c' ($lo .. $hi) are not " +
            "stats-comparable; pass values of the column's own type")
      }
      val tags = statsOf(dir, head, c).values.map(_._1).toSet
      require(tags.nonEmpty,
        s"$what: column '$c' has no range stats at v$head of " +
          s"$dir — writeStats first, or the scope would admit (and " +
          "rewrite) the whole table")
      require(tags == Set(fam),
        s"$what: '$c' bounds are $fam but its stats are " +
          s"${tags.mkString(",")} — a mismatched probe admits everything")
    }
    // scope admission re-resolves per OCC attempt — a retry against a
    // new head must re-admit against THAT head's stats
    val inScope: String => Boolean =
      if (scope.isEmpty) _ => true
      else prunedFilesAll(dir, head, scope).toSet
    // a z-order pass rewrites EVERY admitted file regardless of size —
    // re-layout is the point, not bin-packing — while a plain compact
    // only gathers the under-target ones
    val raw = rawManifest(dir, head)
    val headFiles = filesIn(raw)
    val small = headFiles
      .filter(f => inScope(f) && (zorder.isDefined || io.size(f) < targetBytes))
    val delsAtStart = delsIn(raw)
    val eqsAtStart = eqDelsIn(raw)
    // minInputFiles is a bin-packing heuristic; it must not veto a
    // debt-clearing pass — compact is the materialization path
    // ([[deleteByKeys]]' contract sends dependent ops here, the SQL
    // catalog refuses MOR reads until it runs), and a one-small-file
    // table would otherwise carry its vector forever. Debt riding ONLY
    // on over-target files still consolidates (not rewrites) them — the
    // partial-compact contract: rewriting a huge file for one dead row
    // is write amplification; raise targetBytes to force full
    // materialization.
    // A SCOPED pass tests debt against its OWN candidates, not the
    // table: out-of-scope vectors can't be cleared by an in-scope
    // rewrite, and a global flag would make every scoped pass on a
    // table carrying any unrelated debt churn a fresh no-progress
    // version forever. The vector read is churn-proportional (delete
    // rows, not table rows) and only paid on the scoped path.
    // lazy: only consulted when small.size < minInputFiles — the common
    // scoped pass with enough candidates never pays the vector read
    lazy val debt =
      if (scope.isEmpty) delsAtStart.nonEmpty || eqsAtStart.nonEmpty
      else {
        val smallAdded = addedAtOf(dir, small)
        val eqTouches = eqsAtStart.exists { case (s, _, _) =>
          small.exists(f => smallAdded.getOrElse(f, 0) < s)
        }
        def delTouches = delsAtStart.nonEmpty && {
          val sm = small.toSet
          readDelVectors(spark, delsAtStart).select("file_path")
            .distinct().collect().exists(r => sm(r.getString(0)))
        }
        eqTouches || delTouches
      }
    if (small.isEmpty || (small.size < minInputFiles && !debt)) return head
    val smallSet = small.toSet
    val numOut = math.max(1,
      math.ceil(small.map(io.size).sum.toDouble / targetBytes).toInt)
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    // the rewrite MATERIALIZES every delete for the files it touches —
    // positional vectors (positions don't transfer to rewritten files) AND
    // applicable equality deletes (the rewritten files get a NEW add
    // version, past every existing delete's seq, so carrying the lines
    // for them would silently stop applying); [[publishRewrite]] keeps
    // the deletes of kept files
    val live = readLive(spark, dir, raw, small)
    val sortCols = sortOrderOf(dir)
      .filter(c => live.columns.exists(_.equalsIgnoreCase(c)))
    // the declared sort order rides every compaction: range-partition on
    // the sort key (globally disjoint file ranges, so min/max pruning
    // actually skips) + local sort (row-group stats tighten too); absent
    // a declaration the rewrite is a plain bin-pack as before. A z-order
    // pass clusters by the Morton value instead — multi-dimensional
    // layout IS the request, so it overrides the declared prefix order
    // for the rewritten slice.
    zorder match {
      case Some((zc, bits)) =>
        Layout.writeZordered(live, zc, batchDir, numOut, bits)
      case None if sortCols.nonEmpty =>
        live.repartitionByRange(numOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.parquet(batchDir)
      case None => live.coalesce(numOut).write.parquet(batchDir)
    }
    // explicit statCols let the maintenance pass ADD pruning metadata to
    // a landing that never collected it (commitOnce streams don't);
    // otherwise inherit whatever columns the head already tracks — and a
    // declared sort order always stats its own columns (the clustering
    // is worthless if no range stats record it)
    val cols =
      ((if (statCols.nonEmpty) statCols else statColsOf(dir, head)) ++
        sortCols ++ zorder.toSeq.flatMap(_._1)).distinct
    publishRewrite(spark, dir, "compaction", "re-run compact", head, raw,
      smallSet, parquetIn(batchDir), physOf(live), cols)
  }

  /** Metadata-only COUNT(*): the live row count folded from the manifest
    * stats sidecar's per-file `rows` lines (written by every commit path —
    * append, clustered, merge, compact, z-order, delete — at the moment
    * the files land) minus the delete-vector row counts recorded the same
    * way. The happy path opens NOTHING: one sidecar read answers COUNT(*)
    * over 100 TB, the same discipline as [[fastMinMax]]. Files a
    * pre-upgrade manifest never counted fall back to a parquet-footer
    * read — still no data pages, but O(uncounted files) driver IO, which
    * is why commits record counts eagerly.
    * Unmaterialized EQUALITY deletes refuse loudly: their kill count
    * depends on data (a key may match 0 rows, or rows already
    * positionally dead) — run [[compact]] first. */
  def fastCount(spark: SparkSession, dir: String,
                version: Option[Int] = None): Long = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(eqDelsOf(dir, v).isEmpty,
      s"$dir carries unmaterialized equality deletes at v$v — their row " +
        s"count is data-dependent; compact() first or use read().count()")
    // happy path: the incrementally-maintained totals header answers in
    // O(1) — one raw sidecar line, independent of file count
    rowsHeaderOf(dir, v) match {
      case Some((d, del)) => d - del
      case None =>
        val rows = rowsOf(dir, v)
        def total(files: Seq[String]): Long = {
          val missing = files.filterNot(rows.contains)
          files.flatMap(rows.get).sum +
            footerRowCounts(spark, missing).values.sum
        }
        total(filesOf(dir, v)) - total(delFilesOf(dir, v))
    }
  }

  /** Metadata-only MIN/MAX of a stats-tracked column, folded from the
    * manifest stats sidecar (one typed bound per file, written at commit
    * or by [[writeStats]]). Returns `(tag, min, max)` in the sidecar's
    * encoding — `num` bounds are decimal strings (dates as epoch days,
    * timestamps as micros), `str` bounds are the strings themselves.
    * All-null files contribute nothing (SQL MIN/MAX ignore nulls).
    * Returns None — "fall back to a scan" — when any live file lacks a
    * stats line for `column`, when every file is all-null, or when ANY
    * delete debt exists: a delete may have killed the extremal row, so
    * the sidecar bound is only an enclosure, not the answer. The happy
    * path answers min/max over 100 TB without touching data. */
  def fastMinMax(dir: String, column: String,
                 version: Option[Int] = None)
      : Option[(String, String, String)] = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    if (delFilesOf(dir, v).nonEmpty || eqDelsOf(dir, v).nonEmpty)
      return None
    val stats = statsOf(dir, v, column)
    val files = filesOf(dir, v)
    if (!files.forall(stats.contains)) return None
    val all = files.map(stats(_))
    // a `wild` file has rows whose extreme could not be bounded
    // (±Infinity/NaN float, unsupported type) — unlike an all-null file
    // it cannot be skipped, because the unencodable extreme may BE the
    // table's min or max; any wild file forces the scan path
    if (all.exists(_._1 == "wild")) return None
    val bounds = all.filter(_._1 != "null")
    bounds.map(_._1).distinct match {
      case Seq("num") => Some(("num",
        bounds.map(b => BigDecimal(b._2)).min.toString,
        bounds.map(b => BigDecimal(b._3)).max.toString))
      case Seq("str") =>
        // fold in Spark's UTF8String order, not Java's — per-file bounds
        // were computed by Spark's min/max (UTF-8 binary), and the SQL
        // agg pushdown serves this fold as THE answer for MIN/MAX
        Some(("str",
          bounds.map(b => StatValue.decodeStr(b._2)).min(StatValue.utf8Ord),
          bounds.map(b => StatValue.decodeStr(b._3)).max(StatValue.utf8Ord)))
      case _ => None // all-null column, or mixed tags: scan instead
    }
  }

  /** On-disk bytes of `files` through the IO seam — the DSv2 statistics
    * `sizeInBytes` source (compressed parquet bytes, the same convention
    * Spark's own file sources report). A file that vanished under a
    * concurrent expire counts zero — statistics are estimates, never a
    * correctness surface. */
  private[graft] def fileBytes(files: Seq[String]): Long =
    files.iterator.map(f => if (io.exists(f)) io.size(f) else 0L).sum

  /** Exact live row count at `version` from the sidecar ALONE — the
    * plan-time twin of [[fastCount]]: planning must never pay per-file
    * IO, so there is no footer fallback, and instead of a loud require
    * this returns None on eq-delete debt or incomplete `rows` coverage
    * (the caller reports "unknown", Spark falls back to size-based
    * estimates). */
  private[graft] def statNumRows(dir: String, version: Int): Option[Long] = {
    // a declared-but-never-committed table has no manifest to fold; the
    // caller treats None as "unknown" (planning must never throw)
    if (!io.exists(manifestPath(dir, version))) {
      return if (version == 0) Some(0L) else None
    }
    if (eqDelsOf(dir, version).nonEmpty) return None
    rowsHeaderOf(dir, version) match {
      case Some((d, del)) => Some(d - del) // O(1): one raw header line
      case None =>
        val rows = rowsOf(dir, version)
        val data = filesOf(dir, version)
        val dels = delFilesOf(dir, version)
        if (!(data.iterator ++ dels.iterator).forall(rows.contains)) None
        else Some(data.iterator.map(rows).sum - dels.iterator.map(rows).sum)
    }
  }

  /** Per-column CBO ingredients folded from the sidecar: EXACT null
    * counts (sum of per-file `nulls` lines) and approximate NDV (union
    * of per-file `hll` sketches — per-file estimates would not merge,
    * sketches do; same DataSketches HLL library Spark's own
    * `hll_sketch_agg` writes). A column reports only when EVERY data
    * file of the snapshot carries its line — a partial fold would lie —
    * and nothing reports under row-level delete debt (dead rows would
    * inflate both). One sidecar read, zero data files opened, any table
    * size. */
  /** Memo for the CBO folds below: both are pure functions of the
    * version's sidecar (a version's data files are immutable, and the
    * one mutation path — `writeStats` adding ANALYZE layers later —
    * rewrites the sidecar file, so its byte size keys the cache
    * correctly). Without this, every query PLAN over a filtered scan of
    * an ANALYZEd table would re-heapify one HLL (and one KLL) sketch
    * per file per column — at 100k files that is real planner latency
    * paid per query rather than once per snapshot. Bounded: an
    * access-ordered LRU capped at 512 entries, so a storm of queries
    * over UNRELATED tables (test suites churn thousands of tmp tables)
    * evicts cold folds one by one instead of momentarily re-heapifying
    * every hot table's sketches after a wholesale clear; correctness
    * never rides on a hit. */
  private val cboFoldCache =
    new java.util.LinkedHashMap[(String, Int, Long), AnyRef](
      64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long), AnyRef]): Boolean =
        size > 512
    }
  private def cboFold[T <: AnyRef](dir: String, version: Int,
                                   tag: Long)(compute: => T): T = {
    val sp = statsPath(dir, version)
    val size = if (io.exists(sp)) io.size(sp) else -1L
    val key = (s"$dir#$tag", version, size)
    // synchronized get then compute OUTSIDE the lock then synchronized
    // put: the folds nest (lenStats consults columnStats), so the lock
    // must never be held across `compute` — the same hazard class as
    // ConcurrentHashMap's "Recursive update" under computeIfAbsent. A
    // racy duplicate compute is harmless — the folds are pure functions
    // of the key.
    val cached = cboFoldCache.synchronized(cboFoldCache.get(key))
    if (cached != null) return cached.asInstanceOf[T]
    val computed = compute
    cboFoldCache.synchronized(cboFoldCache.putIfAbsent(key, computed))
    computed
  }
  /** Test seam: number of LIVE entries a set of tables holds in the fold
    * cache (the LRU-survival spec's probe). */
  private[sinks] def cboFoldCacheKeysFor(dirs: Set[String]): Int =
    cboFoldCache.synchronized {
      val it = cboFoldCache.keySet.iterator
      var n = 0
      while (it.hasNext) {
        val k = it.next()
        if (dirs.exists(d => k._1.startsWith(d + "#"))) n += 1
      }
      n
    }

  private[graft] def columnStatsOf(dir: String, version: Int)
      : Map[String, (Option[Long], Option[Long])] =
    cboFold(dir, version, 0L)(columnStatsOfUncached(dir, version))

  private def columnStatsOfUncached(dir: String, version: Int)
      : Map[String, (Option[Long], Option[Long])] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val nulls = parsed.collect {
      case Seq(f, c, "nulls", lo, _) if dataFiles(f) => (c, f, lo.toLong)
    }
    val hlls = parsed.collect {
      case Seq(f, c, "hll", b64, _) if dataFiles(f) => (c, f, b64)
    }
    (nulls.map(_._1) ++ hlls.map(_._1)).distinct.map { c =>
      // fold per FILE (immutable ⇒ duplicate lines agree; rewrites may
      // re-emit a carried file's line next to the original)
      val nm = nulls.collect { case (`c`, f, n) => f -> n }.toMap
      val nullCount =
        if (nm.keySet == dataFiles) Some(nm.values.sum) else None
      val hm = hlls.collect { case (`c`, f, b) => f -> b }.toMap
      val ndv =
        if (hm.keySet != dataFiles) None
        else {
          val u = new org.apache.datasketches.hll.Union(12)
          hm.values.filter(_ != "-").foreach { b64 =>
            u.update(org.apache.datasketches.hll.HllSketch.heapify(
              java.util.Base64.getDecoder.decode(b64)))
          }
          Some(math.round(u.getEstimate))
        }
      c -> ((nullCount, ndv))
    }.toMap.filter { case (_, (a, b)) => a.isDefined || b.isDefined }
  }

  /** Snapshot equi-height histogram of a numeric PHYSICAL column, folded
    * from the per-file KLL sketches the ANALYZE pass recorded
    * ([[statsLines]] `kll` lines): merge across files (per-file
    * percentiles would not merge; sketches do), split the merged rank
    * space into `numBins` equal-count bins, and hand back
    * `(min, max, rowsPerBin, bins(lo, hi, ndvPerBin))` — exactly the
    * ingredients Spark's `FilterEstimation` needs to price a RANGE
    * predicate on a SKEWED column (ndv + uniform-interval interpolation
    * assumes mass spreads evenly between min and max; the histogram is
    * what corrects that, and is the difference between a filtered side
    * being judged broadcastable or not). min/max are EXACT (KLL stores
    * the extremes losslessly); interior boundaries carry the sketch's
    * ~0.6% rank error at k=800 — an estimator input, never a
    * correctness input. Per-bin NDV is apportioned from the HLL fold
    * (distinct values spread across equal-count bins), capped by the
    * bin's row count. Same coverage discipline as [[columnStatsOf]]:
    * any delete debt or a file without a line mutes the fold (None),
    * because dead or uncovered rows would shift every boundary. */
  /** (avgLen, maxLen) of variable-width PHYSICAL columns from the `len`
    * sidecar lines — exact: per-file length sums fold against the exact
    * non-null counts. Same coverage/debt discipline as the other CBO
    * folds; cached under the same key scheme (tag -1). */
  private[graft] def lenStatsOf(dir: String, version: Int)
      : Map[String, (Long, Long)] =
    cboFold(dir, version, -1L)(lenStatsOfUncached(dir, version))

  private def lenStatsOfUncached(dir: String, version: Int)
      : Map[String, (Long, Long)] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val lens = parsed.collect {
      case Seq(f, c, "len", s, m) if dataFiles(f) => (c, f, s.toLong, m.toLong)
    }
    val nulls = columnStatsOf(dir, version)
    val totalRows = statNumRows(dir, version)
    lens.map(_._1).distinct.flatMap { c =>
      // fold per FILE (duplicate lines from rewrite carries agree)
      val perFile = lens.collect { case (`c`, f, s, m) => f -> ((s, m)) }
        .toMap
      val covered = perFile.keySet == dataFiles
      val nonNull = for {
        t <- totalRows
        n <- nulls.get(c).flatMap(_._1)
      } yield t - n
      if (!covered || nonNull.isEmpty) None
      else {
        val sumAll = perFile.values.map(_._1).sum
        val maxAll = perFile.values.map(_._2).max
        val avg =
          if (nonNull.get <= 0) 0L
          else math.max(1L, math.round(sumAll.toDouble / nonNull.get))
        Some(c -> ((avg, maxAll)))
      }
    }.toMap
  }

  private[graft] def histogramsOf(dir: String, version: Int,
                                  numBins: Int = 64)
      : Map[String, (Double, Double, Double, Seq[(Double, Double, Long)])] =
    cboFold(dir, version, numBins.toLong)(
      histogramsOfUncached(dir, version, numBins))

  private def histogramsOfUncached(dir: String, version: Int, numBins: Int)
      : Map[String, (Double, Double, Double, Seq[(Double, Double, Long)])] = {
    if (delFilesOf(dir, version).nonEmpty ||
      eqDelsOf(dir, version).nonEmpty) return Map.empty
    val dataFiles = filesOf(dir, version).toSet
    if (dataFiles.isEmpty) return Map.empty
    val parsed = sidecarLines(dir, version).map(_.split('\t').toSeq)
    val klls = parsed.collect {
      case Seq(f, c, "kll", b64, _) if dataFiles(f) => (c, f, b64)
    }
    val ndvs = columnStatsOf(dir, version)
    klls.map(_._1).distinct.flatMap { c =>
      val km = klls.collect { case (`c`, f, b) => f -> b }.toMap
      if (km.keySet != dataFiles) None
      else {
        val merged =
          org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(800)
        km.values.filter(_ != "-").foreach { b64 =>
          merged.merge(org.apache.datasketches.kll.KllDoublesSketch.heapify(
            org.apache.datasketches.memory.Memory.wrap(
              java.util.Base64.getDecoder.decode(b64))))
        }
        if (merged.isEmpty) None
        else {
          val n = merged.getN
          val bins = math.max(1, math.min(numBins.toLong, n).toInt)
          val splits = (0 to bins).map(i =>
            merged.getQuantile(i.toDouble / bins))
          val height = n.toDouble / bins
          val perBin = ndvs.get(c).flatMap(_._2)
            .map(t => math.max(1L, t / bins)).getOrElse(1L)
            .min(math.max(1L, math.ceil(height).toLong))
          Some(c -> ((merged.getMinItem, merged.getMaxItem, height,
            (0 until bins).map(i => (splits(i), splits(i + 1), perBin)))))
        }
      }
    }.toMap
  }

  /** Source columns with ANY manifest pruning handle at `version` —
    * typed range stats, bloom bitmaps, or a declared transform's DERIVED
    * stat (`bucket(16,k)` answers equality probes on `k`). This is the
    * runtime-filter attribute set the SQL scan advertises: naming a
    * column here invites Spark to ship DPP join-key probe sets for it at
    * execution time, each answered from the sidecar without opening a
    * file. */
  private[graft] def pruneHandleColumns(dir: String,
                                        version: Int): Set[String] =
    statColsOf(dir, version)
      .map(c => PartitionTransform.parseOpt(c).map(_.source).getOrElse(c))
      .toSet

  /** Whether `version` carries any merge-on-read delete debt (positional
    * vectors or equality deletes). */
  private[graft] def hasDeleteDebt(dir: String, version: Int): Boolean =
    delFilesOf(dir, version).nonEmpty || eqDelsOf(dir, version).nonEmpty

  /** Per-data-file typed range bounds of PHYSICAL `column` — the
    * TopN-admission planning read: `file → (tag, lo, hi)` for every
    * data file that carries a usable (`num`/`str`) range line. Files
    * without a line (or all-null / `wild` files) are simply absent —
    * the CALLER must treat an absent live file as a decline, because
    * an unprovable extreme could belong anywhere in the order. */
  private[graft] def statBoundsPerFile(dir: String, version: Int,
                                       column: String)
      : Map[String, (String, String, String)] =
    if (!io.exists(manifestPath(dir, version))) Map.empty
    else statsOf(dir, version, column)
      .filter { case (_, (tag, _, _)) => tag == "num" || tag == "str" }

  /** EXACT snapshot-level null count of PHYSICAL `column` from the
    * CBO sidecar lines (ANALYZE discipline), or None without full
    * coverage — the zero-null proof TopN admission needs when the
    * declared schema still says nullable. */
  private[graft] def statNullCount(dir: String, version: Int,
                                   column: String): Option[Long] =
    columnStatsOf(dir, version).get(column).flatMap(_._1)

  /** Per-data-file EXACT live row counts from the sidecar alone — the
    * LIMIT-admission planning read: None unless the snapshot carries
    * zero row-level delete debt (live = physical only then) and EVERY
    * data file has a `rows` line, because admitting files on a partial
    * or debt-discounted count could cover fewer rows than promised. */
  private[graft] def statRowsPerFile(dir: String,
                                     version: Int): Option[Map[String, Long]] = {
    if (!io.exists(manifestPath(dir, version))) return None
    if (hasDeleteDebt(dir, version)) return None
    val rows = rowsOf(dir, version)
    val data = filesOf(dir, version)
    if (!data.forall(rows.contains)) None
    else Some(data.iterator.map(f => f -> rows(f)).toMap)
  }

  /** The storage-partitioned-join layout at `version`: when the table
    * declares exactly one bucket transform and EVERY live file's derived
    * bucket stat under the CURRENT spec is single-valued, returns
    * `(bucket, file → bucket id)` — the proof each file holds one bucket
    * of the key space, so a scan can serve its files key-grouped and a
    * co-bucketed join (or a group-by on the key) needs NO shuffle at
    * all. None the moment any file breaks the invariant (pre-spec
    * vintages, an old-vintage compaction that merged buckets): the scan
    * silently reports unknown partitioning and Spark shuffles as usual —
    * misreporting a layout would produce wrong joins, so the gate is
    * all-or-nothing. */
  private[graft] def bucketLayout(dir: String, version: Int)
      : Option[(PartitionTransform.Bucket, Map[String, Int])] =
    partitioningOf(dir).collect {
      case b: PartitionTransform.Bucket => b
    } match {
      case Seq(b) =>
        if (!io.exists(manifestPath(dir, version))) return None
        val stats = statsOf(dir, version, b.spec)
        val files = filesOf(dir, version)
        if (files.isEmpty) None
        else {
          val ids = files.flatMap { f =>
            stats.get(f).collect {
              case ("num", lo, hi) if lo == hi =>
                f -> scala.math.BigDecimal(lo).toIntExact
            }
          }.toMap
          if (ids.size == files.size) Some((b, ids)) else None
        }
      case _ => None
    }

  /** OPTIMIZE ZORDER — rewrite the table's LIVE rows z-ordered on
    * `zCols` as one logical-rewrite snapshot: the lake maintenance pass
    * that turns an arrival-ordered landing (streaming commitOnce batches,
    * CDC merges) into a scan-layout one, so min/max pruning on the
    * cluster keys actually skips files. Differences from [[compact]]
    * (which only bin-packs small files, keeping arrival order): the
    * rewrite set is EVERY live file, the output is range-partitioned and
    * sorted by the Morton value ([[Layout.writeZordered]] — one quantile
    * pass + one range shuffle), and every delete (positional AND
    * equality) is materialized — the clustered snapshot starts
    * delete-free. Old files stay for time travel; [[expire]] GCs them.
    *
    * Stats for `zCols` are (re)computed alongside whatever columns the
    * head already tracked — clustering without stats would skip nothing.
    * The txn ledger is carried forward (replay horizons survive
    * maintenance, same rule as compact). Concurrency: a delete landing
    * mid-rewrite aborts loudly (it references files this rewrite copied
    * without it); a concurrent APPEND rides through untouched — its
    * files simply stay unclustered until the next pass. */
  def optimizeZorder(spark: SparkSession, dir: String, zCols: Seq[String],
                     numFiles: Int = 16, bitsPerDim: Int = 6): Int =
    retryingShape(3) {
    require(zCols.nonEmpty, "optimizeZorder needs at least one cluster column")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val rewrite = filesIn(raw)
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    // live view of the WHOLE head: positional vectors anti-joined,
    // equality deletes applied — the rewrite materializes them all
    val live = readLive(spark, dir, raw, rewrite)
    Layout.writeZordered(live, zCols, batchDir, numFiles, bitsPerDim)
    publishRewrite(spark, dir, "optimizeZorder", "re-run", head, raw,
      rewrite.toSet, parquetIn(batchDir), physOf(live),
      (statColsOf(dir, head) ++ zCols).distinct)
  }

  /** MERGE (upsert) `source` into the table by `key` — copy-on-write
    * scoped by the manifest: a matched table row is replaced by its source
    * row, an unmatched source row is inserted, and ONLY the files that
    * actually contain a matched key are rewritten. At 100 TB that scoping
    * is the whole operator: a CDC batch touching 0.1% of keys rewrites
    * ~0.1% of files (stats-pruned, then membership-confirmed), not the
    * table — every untouched file survives byte-identical in the new
    * manifest.
    *
    * Candidate selection is two-phase, each a superset of the next:
    * manifest stats drop files whose [min,max] can't contain any source
    * key (free, no data read), then ONE semi-join scan of the survivors
    * confirms actual membership — the files it names are exactly the
    * rewrite set. The rewrite reads those files LIVE (delete vectors
    * applied, so dead rows stay dead), anti-joins the source keys, and
    * unions the full source: updates and inserts land in one batch.
    *
    * Source keys must be unique (checked; "multiple source rows matched"
    * is a correctness error in every MERGE dialect, failed loudly here).
    *
    * Concurrency: vectors changing mid-merge abort (same rule as
    * [[compact]]); a concurrent APPEND is validated — if its files contain
    * a source key the merge aborts (its rewrite would duplicate that key:
    * write-write conflict under serializable semantics), otherwise the
    * append rides through the retry untouched. Returns the new version. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            key: String, txnId: Option[String] = None): Int =
    mergeBatch(spark, dir, source, key, None, txnId)

  /** CDC changelog apply — [[merge]] plus row deletes, in ONE commit: the
    * change batch carries an op column (`"u"` upsert / `"d"` delete), and
    * a file containing a deleted key is simply part of the rewrite set
    * (its copy omits the row). Pair with an optional `txnId` and a
    * foreachBatch loop ([[graft.streaming.MergeStream]]) and this is
    * exactly-once streaming CDC into the lake table. A key may appear
    * once in the batch (fold multi-change streams to last-change-per-key
    * first — [[graft.analytics.Cdc]] semantics) and may not be both
    * upserted and deleted. */
  def mergeChanges(spark: SparkSession, dir: String, changes: DataFrame,
                   key: String, opCol: String = "op",
                   txnId: Option[String] = None): Int =
    mergeBatch(spark, dir, changes, key, Some(opCol), txnId)

  /** What the one validation pass ([[precheck]]) proved and derived about
    * a merge batch: keys are unique and none is both upserted and deleted;
    * `span` is the affected-key [min, max] (None = no non-null key) and
    * `hasUpserts` says whether any row lands. */
  private case class ChangePrecheck(hasUpserts: Boolean,
                                    span: Option[(Any, Any)])

  /** ONE aggregate pass validates a merge batch — bad ops, duplicate keys
    * and upsert∩delete are three verdicts of one per-key rollup, which
    * also yields the key span and the upsert count the rewrite needs.
    * `opCol` None: every row is an upsert. */
  private def precheck(batch: DataFrame, key: String,
                       opCol: Option[String]): ChangePrecheck = {
    // A NULL op makes `!isin("u","d")` evaluate to NULL (filtered out),
    // which would let the row pass validation and then silently match
    // neither the upsert nor the delete branch — count "not a definite
    // match" instead so malformed rows fail loudly rather than vanish.
    // Internal aliases carry an unlikely prefix so a user key column
    // literally named "nu"/"nd"/"nbad" can't make the second aggregate's
    // references ambiguous.
    val op = opCol.fold(lit("u"))(col)
    val r = batch.groupBy(col(key)).agg(
        count(when(op === "u", lit(1))).as("__graft_nu"),
        count(when(op === "d", lit(1))).as("__graft_nd"),
        count(when(!coalesce(op.isin("u", "d"), lit(false)),
          lit(1))).as("__graft_nbad"))
      .agg(sum(col("__graft_nbad")).as("bad"),
        max(col("__graft_nu")).as("maxu"),
        count(when(col("__graft_nu") > 0 && col("__graft_nd") > 0,
          lit(1))).as("both"),
        sum(col("__graft_nu")).as("urows"),
        min(col(key)).as("kmin"), max(col(key)).as("kmax"))
      .head()
    val empty = r.isNullAt(0)
    require(empty || r.getLong(0) == 0,
      s"op column '${opCol.mkString}' must be 'u' or 'd' (non-null)")
    require(empty || r.getLong(1) <= 1,
      s"source has duplicate '$key' values — a MERGE with a " +
        s"many-to-one match is ambiguous; dedupe the source first")
    require(empty || r.getLong(2) == 0,
      s"a '$key' value is both upserted and deleted in one batch — " +
        s"fold the changelog to last-change-per-key first")
    ChangePrecheck(
      hasUpserts = !empty && r.getLong(3) > 0,
      // all-NULL keys aggregate to a null kmin: no span — a (null, null)
      // span would make mayIntersect keep EVERY head file as a candidate
      span = if (empty || r.isNullAt(4)) None else Some((r.get(4), r.get(5))))
  }

  /** Core of [[merge]]/[[mergeChanges]]: upsert and delete by `key`,
    * rewriting ONLY the files that contain an affected key. With `txnId`,
    * the commit is exactly-once: an already committed transaction returns
    * its version without reading anything (the manifest ledger is the
    * replay marker, as in [[commitOnce]]). The batch is persisted so
    * validation, the u/d splits and the rewrite share one
    * materialization. */
  private def mergeBatch(spark: SparkSession, dir: String, batch: DataFrame,
                         key: String, opCol: Option[String],
                         txnId: Option[String]): Int =
    if (txnId.exists(committedTxns(dir).contains))
      versionOfTxn(dir, txnId.get)
    else {
      val ch = batch.persist()
      try {
        val pre = precheck(ch, key, opCol)
        val (upserts, deleteKeys) = opCol match {
          case Some(o) => (ch.filter(col(o) === "u").drop(o),
            ch.filter(col(o) === "d").select(col(key)))
          case None => (ch, ch.limit(0).select(col(key)))
        }
        val v = retryingShape(3) { mergeBatchAttempt(spark, dir, upserts,
          deleteKeys, key, txnId, pre) }
        maybeAutoRefresh(spark, dir)
        v
      } finally ch.unpersist()
    }

  private def mergeBatchAttempt(spark: SparkSession, dir: String,
                   upserts: DataFrame, deleteKeys: DataFrame, key: String,
                   txnId: Option[String], pre: ChangePrecheck): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val filesAtStart = filesIn(raw)
    val mergePin = physSchemaOf(dir, raw)
    // the rewrite's candidate selection and survivor logic reason about
    // per-file row liveness; layering era-scoped equality deletes under
    // that would be easy to get silently wrong — normalize first instead
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; run compact() to " +
        s"fold them into the data files before MERGE")
    // every key the batch affects, for file-touching and row removal
    val affectedKeys = upserts.select(col(key)).unionByName(deleteKeys)
    val touched = filesWithKeys(spark, dir, head, raw, mergePin, key,
      affectedKeys, pre.span)
    // rewrite = surviving rows of touched files (minus every affected
    // key: updated rows are replaced, deleted rows just end here) + the
    // upserts; a no-match batch rewrites nothing and lands the upserts
    // as a plain new file, in the table's column order (schema-only
    // read, no data scanned)
    val tableCols = mergePin
      .getOrElse(scan(spark, Seq(filesAtStart.head), None).schema)
      .fieldNames
    val rewritten =
      if (touched.isEmpty) upserts.select(tableCols.map(col).toSeq: _*)
      else readFiles(spark, touched, delsIn(raw), mergePin)
        .join(affectedKeys, Seq(key), "left_anti")
        .unionByName(upserts)
        .select(tableCols.map(col).toSeq: _*)
    publishRewrite(spark, dir, "merge", "re-run", head, raw, touched.toSet,
      landMerged(spark, dir, rewritten, touched.size,
        touched.nonEmpty || pre.hasUpserts),
      physOf(rewritten), statColsOf(dir, head), txnId,
      mergeConflicts(spark, dir, filesAtStart, key, affectedKeys,
        bySource = false))
  }

  /** The files of version `head` (raw manifest `raw`, schema pin `pin`)
    * holding a key of `keys` (one column, named `key`), in two phases,
    * each a superset of the next: manifest stats drop the files whose
    * range misses `span` (the keys' [min, max]; None = no key) without
    * reading data, then ONE semi-join scan of the live rows of the rest
    * names the files that hold a key (a collect bounded by file count). */
  private def filesWithKeys(spark: SparkSession, dir: String, head: Int,
      raw: Seq[String], pin: Option[StructType], key: String,
      keys: DataFrame, span: Option[(Any, Any)]): Seq[String] =
    span match {
      case None => Seq.empty
      case Some((lo, hi)) =>
        val stats = statsOf(dir, head, key)
        val candidates = filesIn(raw).filter { f =>
          stats.get(f).forall(mayIntersect(_, lo, hi))
        }
        if (candidates.isEmpty) Seq.empty
        else taggedLive(spark, candidates, delsIn(raw), pin)
          .join(keys, Seq(key), "left_semi")
          .select("__graft_file").distinct()
          .collect().map(_.getString(0)).toSeq
    }

  /** Land a merge's rewritten `rows`: the table's file granularity kept —
    * ~one file per touched file (a shuffle-free merge of read
    * partitions), ONE file for a pure-insert merge, none without rows —
    * then checked against the table's CHECK constraints. */
  private def landMerged(spark: SparkSession, dir: String, rows: DataFrame,
                         touched: Int, hasRows: Boolean): Seq[String] =
    if (!hasRows) Seq.empty
    else {
      val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
      rows.coalesce(math.max(1, touched)).write.parquet(batchDir)
      val fs = parquetIn(batchDir)
      validateConstraints(spark, dir, fs)
      fs
    }

  /** A merge's own checks on the fresh OCC head (raw manifest `hRaw`):
    * an equality delete that landed mid-merge, and files appended since
    * `filesAtStart` that hold a key of `keys` (one column, named `key`) —
    * serializable write-conflict validation: the rewrite was computed
    * without them, so a hit would double (or revive) that key. Under
    * BY-SOURCE clauses every append conflicts: they quantify over every
    * target row. The appended files read pinned to the head's schema. */
  private def mergeConflicts(spark: SparkSession, dir: String,
      filesAtStart: Seq[String], key: String, keys: DataFrame,
      bySource: Boolean)(hRaw: Seq[String]): Unit = {
    if (eqDelsIn(hRaw).nonEmpty)
      throw new java.util.ConcurrentModificationException(
        "an equality delete landed during merge; compact, then " +
          "re-run against the new head")
    val appended = filesIn(hRaw).filterNot(filesAtStart.toSet)
    if (appended.nonEmpty) {
      if (bySource)
        throw new SnapshotShapeConflict(
          "a concurrent append landed during a BY-SOURCE merge " +
            "(which quantifies over every target row); re-running " +
            "against the new head")
      if (scan(spark, appended, physSchemaOf(dir, hRaw)).select(col(key))
        .join(keys, Seq(key), "left_semi").limit(1).count() > 0)
        throw new java.util.ConcurrentModificationException(
          "a concurrent append landed rows matching a merge source " +
            "key; re-run the merge against the new head")
    }
  }

  /** Full-clause MERGE — the CDC shapes [[merge]]'s single-key upsert
    * cannot express: ordered conditional `WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE`, conditional `WHEN NOT MATCHED [AND cond] THEN
    * INSERT`, and `WHEN NOT MATCHED BY SOURCE [AND cond] THEN
    * UPDATE/DELETE`, with standard first-satisfied-clause-wins
    * semantics (a NULL condition matches nothing, like SQL).
    *
    * Expression contract: clause conditions and assignment values are
    * evaluated over the joined row with target columns addressed as
    * `__t_<col>` and source columns as `__s_<col>` (the SQL strategy
    * rewrites `t.c` / `s.c` to exactly these; Scala callers use the
    * same spelling). Assignment KEYS are plain target column names.
    * Unassigned columns carry the target value through an UPDATE; an
    * INSERT must assign every table column.
    *
    * Scale shape: without BY-SOURCE clauses this is [[merge]]'s
    * file-scoped rewrite — manifest stats prune candidate files by the
    * source key range, one membership semi-join names the touched
    * files, and ONLY those rewrite (plus one appended file for
    * surviving inserts). BY-SOURCE clauses quantify over every target
    * row by definition, so they rewrite the whole head — that cost is
    * the semantics, not the implementation; the commit is still one
    * atomic publish. OCC mirrors [[merge]]: concurrent vector
    * changes, equality deletes, and appends carrying affected keys (or
    * ANY append, under BY-SOURCE) abort loudly and auto-retry bounded
    * against the new head. Unmaterialized equality deletes refuse at
    * entry (compact first). Source keys must be unique ([[merge]]'s
    * many-to-one ambiguity contract). */
  def mergeInto(spark: SparkSession, dir: String, source: DataFrame,
                targetKey: String, sourceKey: String,
                matched: Seq[MergeClause],
                notMatched: Seq[MergeClause],
                notMatchedBySource: Seq[MergeClause] = Seq.empty): Int = {
    val out = retryingShape(3) { mergeIntoAttempt(spark, dir, source,
      targetKey, sourceKey, matched, notMatched, notMatchedBySource) }
    maybeAutoRefresh(spark, dir)
    out
  }

  private def mergeIntoAttempt(spark: SparkSession, dir: String,
      source: DataFrame, targetKey: String, sourceKey: String,
      matched: Seq[MergeClause], notMatched: Seq[MergeClause],
      notMatchedBySource: Seq[MergeClause]): Int = {
    matched.foreach(c => require(!c.action.isInstanceOf[MergeInsert],
      "WHEN MATCHED supports UPDATE/DELETE"))
    notMatched.foreach(c => require(c.action.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED supports INSERT"))
    notMatchedBySource.foreach(c =>
      require(!c.action.isInstanceOf[MergeInsert],
        "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE"))
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val head = vs.last
    val raw = rawManifest(dir, head)
    val filesAtStart = filesIn(raw)
    require(filesAtStart.nonEmpty, s"$dir head has no data files")
    val delsAtStart = delsIn(raw)
    require(eqDelsIn(raw).isEmpty,
      s"$dir carries unmaterialized equality deletes; run compact() to " +
        s"fold them into the data files before MERGE")
    val bySource = notMatchedBySource.nonEmpty
    val src = source.persist()
    try {
      val pre = precheck(src, sourceKey, None)
      val updPin = physSchemaOf(dir, raw)
      val tschema = updPin
        .getOrElse(scan(spark, Seq(filesAtStart.head), None).schema)
      val tcols = tschema.fieldNames.toSeq
      notMatched.foreach { c =>
        val vals = c.action.asInstanceOf[MergeInsert].values
        require(vals.keySet == tcols.toSet,
          s"INSERT must assign every table column; missing " +
            s"${(tcols.toSet -- vals.keySet).mkString(", ")}" +
            (if ((vals.keySet -- tcols.toSet).nonEmpty)
              s"; unknown ${(vals.keySet -- tcols.toSet).mkString(", ")}"
            else ""))
      }
      matched.foreach {
        case MergeClause(_, MergeUpdate(set)) =>
          require((set.keySet -- tcols.toSet).isEmpty,
            s"UPDATE assigns unknown column(s): " +
              (set.keySet -- tcols.toSet).mkString(", "))
        case _ => ()
      }
      notMatchedBySource.foreach {
        case MergeClause(_, MergeUpdate(set)) =>
          require((set.keySet -- tcols.toSet).isEmpty,
            s"BY SOURCE UPDATE assigns unknown column(s): " +
              (set.keySet -- tcols.toSet).mkString(", "))
        case _ => ()
      }

      // touched files: every file under BY-SOURCE quantification, else
      // the files holding a source key
      val srcKeys = src.select(col(sourceKey).as(targetKey))
      val touched =
        if (bySource) filesAtStart
        else filesWithKeys(spark, dir, head, raw, updPin, targetKey, srcKeys,
          pre.span)

      // the joined frame: live target rows of touched files as __t_*,
      // source rows as __s_*, presence markers on both sides
      val t0 = readFiles(spark, touched, delsAtStart, updPin)
      val t = t0.select(tcols.map(c => col(c).as(s"__t_$c")) :+
        lit(true).as("__t_present"): _*)
      val s0 = src.select(src.columns.toSeq.map(c =>
        col(c).as(s"__s_$c")) :+ lit(true).as("__s_present"): _*)
      val joined =
        if (touched.isEmpty)
          // nothing matched: no target scan at all — inserts only
          s0.select((tcols.map(c => lit(null).cast(tschema(c).dataType)
            .as(s"__t_$c")) :+ lit(false).as("__t_present")) ++
            s0.columns.toSeq.map(col): _*)
        else t.join(s0,
          t(s"__t_$targetKey") === s0(s"__s_$sourceKey"), "full_outer")

      // first-satisfied-clause-wins chains; an unconditional clause
      // terminates its chain (later clauses are unreachable, as in SQL)
      def chain(cs: Seq[(Option[Column], Column)], default: Column): Column =
        cs.foldRight(default) { case ((cond, v), acc) =>
          cond.map(c => when(c, v).otherwise(acc)).getOrElse(v)
        }
      def keepOf(cs: Seq[MergeClause], default: Column): Column =
        chain(cs.map(c => c.condition ->
          lit(!c.action.isInstanceOf[MergeDelete.type])), default)
      // every leaf value casts to the target column's (physical) type
      // BEFORE entering the when-chain: the chain's branches must
      // type-unify, and a source whose nested member names differ from
      // the physical ones (a renamed element/struct member — positional
      // layout identical, names forked by design) would otherwise fail
      // analysis against the carry/null branches. The leaf cast is the
      // same pure positional relabel the outer cast used to apply.
      def valOf(cs: Seq[MergeClause], c: String, carry: Column): Column =
        chain(cs.map(cl => cl.condition -> (cl.action match {
          case MergeUpdate(set) =>
            set.get(c).map(_.cast(tschema(c).dataType)).getOrElse(carry)
          case MergeDelete => carry // dropped by keep, value irrelevant
          case MergeInsert(vals) => vals(c).cast(tschema(c).dataType)
        })), carry)

      val isMatched = coalesce(col("__t_present"), lit(false)) &&
        coalesce(col("__s_present"), lit(false))
      val isTargetOnly = coalesce(col("__t_present"), lit(false)) &&
        !coalesce(col("__s_present"), lit(false))
      val keep =
        when(isMatched, keepOf(matched, lit(true)))
          .when(isTargetOnly, keepOf(notMatchedBySource, lit(true)))
          .otherwise(keepOf(notMatched, lit(false)))
      def outCol(c: String): Column = {
        val carry = col(s"__t_$c")
        when(isMatched, valOf(matched, c, carry))
          .when(isTargetOnly, valOf(notMatchedBySource, c, carry))
          .otherwise(valOf(notMatched, c,
            lit(null).cast(tschema(c).dataType)))
          .cast(tschema(c).dataType).as(c)
      }
      val rewritten = joined.filter(keep).select(tcols.map(outCol): _*)
      publishRewrite(spark, dir, "merge", "re-run", head, raw, touched.toSet,
        landMerged(spark, dir, rewritten, touched.size,
          touched.nonEmpty || pre.hasUpserts),
        physOf(rewritten), statColsOf(dir, head),
        onHead = mergeConflicts(spark, dir, filesAtStart, targetKey, srcKeys,
          bySource))
    } finally { src.unpersist(); () }
  }

  /** Incremental read: exactly the rows appended between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — what a downstream
    * incremental consumer (a rollup maintainer, a dedup index appender)
    * reads instead of re-scanning the table. Sound ONLY over pure append
    * lineage: files are immutable, so new-files = new-rows iff no file was
    * removed in between. A logical overwrite, rollback, or compaction in
    * the range breaks that equivalence and this FAILS LOUDLY (the caller
    * falls back to a snapshot diff — [[graft.analytics.TableDiff]]) —
    * silently returning rewritten rows as "new" would corrupt every
    * incremental consumer downstream. The rows read pinned to
    * `toVersion`'s schema ([[physSchemaOf]]). */
  def readChanges(spark: SparkSession, dir: String,
                  fromVersion: Int, toVersion: Int): DataFrame = {
    val added = changedFiles(dir, fromVersion, toVersion)
    if (added.isEmpty) read(spark, dir, Some(toVersion)).limit(0)
    else scan(spark, added,
      physSchemaOf(dir, rawManifest(dir, toVersion)))
  }

  /** The files APPENDED between `fromVersion` (exclusive) and
    * `toVersion` (inclusive), with [[readChanges]]'s pure-append
    * soundness checks enforced loudly — the resolution seam the SQL
    * `#changes=` fragment shares with the Scala API, so both surfaces
    * refuse the same rewrites identically. Deletes present at
    * fromVersion reference fromVersion's files only, never the added
    * slice — the result needs no delete application. */
  private[graft] def changedFiles(dir: String, fromVersion: Int,
                                  toVersion: Int): Seq[String] = {
    val vs = versions(dir)
    require(vs.contains(fromVersion) && vs.contains(toVersion),
      s"versions [$fromVersion, $toVersion] not both in $vs")
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val fromRaw = rawManifest(dir, fromVersion)
    val toRaw = rawManifest(dir, toVersion)
    val from = filesIn(fromRaw).toSet
    val to = filesIn(toRaw)
    val removed = from -- to.toSet
    require(removed.isEmpty,
      s"non-append lineage between v$fromVersion and v$toVersion " +
        s"(${removed.size} file(s) removed — overwrite/rollback/compaction " +
        s"in range); incremental reads are only sound over pure appends")
    require(delsIn(fromRaw).toSet == delsIn(toRaw).toSet,
      s"delete vectors changed between v$fromVersion and v$toVersion — " +
        s"rows were REMOVED, not just appended; incremental reads are only " +
        s"sound over pure appends (fall back to a snapshot diff)")
    require(eqDelsIn(fromRaw).toSet == eqDelsIn(toRaw).toSet,
      s"equality deletes changed between v$fromVersion and v$toVersion — " +
        s"rows were REMOVED, not just appended; incremental reads are only " +
        s"sound over pure appends (fall back to a snapshot diff)")
    to.filterNot(from)
  }

  /** Change-data feed between ANY two snapshots — the keyed diff
    * [[readChanges]]'s pure-append precondition cannot cover: works
    * across overwrites, rollbacks, row deletes, and compactions, because
    * it compares the two LIVE views rather than trusting file lineage.
    * One row per changed key with the table's columns plus `op`
    * (`i` insert / `u` update / `d` delete — [[mergeChanges]]'s alphabet,
    * so `mergeChanges(dst, feed-with-i-mapped-to-u)` replicates this
    * table's transition into another table); `i`/`u` carry the AFTER
    * image, `d` the BEFORE image.
    *
    * Scale shape: the diff itself shuffles only (key, content hash) —
    * [[graft.analytics.TableDiff]]'s width-independent join — and the
    * payloads are then fetched by joining the CHANGED key set back
    * against each snapshot (churn-proportional: a low-churn feed
    * broadcasts its key set against column-pruned scans; each snapshot
    * is read twice, narrow then pruned-wide, which beats shuffling full
    * payload rows for every unchanged key). `key` must be unique per
    * snapshot (it is the downstream merge key) — duplicate keys make
    * the diff ambiguous, same contract as [[merge]]. Hash caveat as
    * TableDiff: a 64-bit collision reports a changed pair as unchanged. */
  def changeFeed(spark: SparkSession, dir: String, key: String,
                 fromVersion: Int, toVersion: Int): DataFrame = {
    val before = read(spark, dir, Some(fromVersion))
    val after = read(spark, dir, Some(toVersion))
    val keyed = graft.analytics.TableDiff.diff(before, after, key)
      .filter(col("verdict") =!= "unchanged")
      .select(col(key),
        when(col("verdict") === "added", "i")
          .when(col("verdict") === "removed", "d")
          .otherwise("u").as("op"))
    after.join(keyed.filter(col("op") =!= "d"), Seq(key), "inner")
      .unionByName(
        before.join(keyed.filter(col("op") === "d"), Seq(key), "inner"))
  }

  /** The table's commit log as data: one row per retained version with
    * its wall-clock stamp, file count, and txn id (nulls where a manifest
    * predates stamping). The operational twin of DESCRIBE HISTORY — what
    * an operator reads before picking a rollback target or an expire
    * horizon. Driver-side cost is the manifest listing it already does. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    versions(dir).map { v =>
      val lines = io.readLines(manifestPath(dir, v))
      (v,
        lines.collectFirst { case l if l.startsWith("#ts=") =>
          l.drop(4).toLong },
        // file count needs the spliced view — data-file lines may live in
        // segments; every header this view reports stays inline
        manifestLines(dir, v)
          .count(l => l.nonEmpty && !l.startsWith("#")).toLong,
        lines.count(_.startsWith("#del=")).toLong,
        lines.collectFirst { case l if l.startsWith("#txn=") => l.drop(5) })
    }.toDF("version", "ts_millis", "n_files", "n_delete_files", "txn_id")
  }

  /** The NEWEST transaction id riding version `v`'s manifest, if any. A
    * merge carries the txn ledger forward (prior `#txn=` lines precede its
    * own), so "newest" is the last line — the txn that PUBLISHED this
    * version, which is what an incremental maintainer's head pointer
    * means. */
  def txnOf(dir: String, version: Int): Option[String] =
    io.readLines(manifestPath(dir, version))
      .filter(_.startsWith("#txn=")).lastOption.map(_.drop(5))

  /** Whether `[fromVersion, toVersion]` is pure-append lineage — the
    * exact precondition [[readChanges]] enforces loudly, exposed as a
    * predicate so a maintainer can CHOOSE between the incremental path
    * and a full recompute instead of pattern-matching exception text. */
  def isPureAppend(dir: String, fromVersion: Int, toVersion: Int): Boolean = {
    val vs = versions(dir)
    vs.contains(fromVersion) && vs.contains(toVersion) &&
      fromVersion <= toVersion &&
      (filesOf(dir, fromVersion).toSet --
        filesOf(dir, toVersion).toSet).isEmpty &&
      delFilesOf(dir, fromVersion).toSet ==
        delFilesOf(dir, toVersion).toSet &&
      eqDelsOf(dir, fromVersion).toSet == eqDelsOf(dir, toVersion).toSet
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
  private def hasDeclaredGates(dir: String): Boolean =
    constraints(dir).nonEmpty || declaredSchema(dir).exists { j =>
      val sc = org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      sc.fields.exists(!_.nullable) || graft.sql.NestedNotNull.hasAny(sc)
    }

  private def validateConstraints(spark: SparkSession, dir: String,
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
  private def validateConstraintsDf(dir: String, batch: DataFrame,
                                    userBatch: Boolean = false,
                                    foreignBatch: Boolean = false): Unit = {
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

  // ---- named refs: tags (immutable) and branches (forked lineages) ----

  private def tagPath(dir: String, name: String) = s"$dir/refs/tag.$name"
  private def refName(name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name must be [A-Za-z0-9][A-Za-z0-9._-]*: '$name'")
    name
  }

  /** Tag a committed version with an immutable name — the audit anchor
    * ("the snapshot run X trained on") that survives head movement. A tag
    * is a pointer, not a copy: one atomic ref-file create, re-tagging an
    * existing name refuses (delete first — mutable names are branches).
    * [[expire]] refuses to drop a tagged version, so a tag is also a GC
    * pin: the files a tagged snapshot references stay alive until the
    * tag is deleted. */
  def tag(dir: String, name: String, version: Int): Unit = {
    require(versions(dir).contains(version),
      s"version $version not committed at $dir")
    io.mkdirs(s"$dir/refs")
    require(io.createExclusive(tagPath(dir, refName(name)),
      Seq(version.toString)),
      s"tag '$name' already exists at $dir (tags are immutable; " +
        s"deleteTag first, or use a branch for a moving ref)")
  }

  /** All tags of a table: name → version. */
  def tags(dir: String): Map[String, Int] =
    io.list(s"$dir/refs").collect {
      case n if n.startsWith("tag.") =>
        n.drop(4) -> io.readLines(s"$dir/refs/$n").head.trim.toInt
    }.toMap

  def deleteTag(dir: String, name: String): Unit =
    io.delete(tagPath(dir, name))

  /** Read the snapshot a tag pins. */
  def readTagged(spark: SparkSession, dir: String, name: String): DataFrame = {
    val t = tags(dir)
    require(t.contains(name), s"no tag '$name' at $dir (have: ${t.keys})")
    read(spark, dir, Some(t(name)))
  }

  /** A branch's table directory — a full table in its own right: commit,
    * deleteWhere, merge, compact, read all work on it directly. */
  def branchDir(dir: String, name: String): String =
    s"$dir/branches/${refName(name)}"

  /** Fork a branch from a committed version (default: head) — the
    * isolation half of audit/experiment workflows that need MUTATION,
    * not just the read pin a tag gives: rewrite history on the branch,
    * validate it, then [[fastForward]] the parent to it (or throw it
    * away) — production readers never see the intermediate states.
    *
    * Zero-copy: the branch's v1 manifest references the parent's data
    * files by path; its own commits land under the branch directory.
    * The parent's [[expire]] keeps branch-referenced files alive, and
    * expire ON a branch refuses outright (a `BRANCH` marker): the fork
    * shares parent-owned files, and a branch-local GC would delete them
    * under production. Fork refuses over unmaterialized equality deletes
    * (their seq scoping is per-lineage and does not transfer). */
  def createBranch(dir: String, name: String,
                   version: Option[Int] = None): String = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    require(eqDelsOf(dir, v).isEmpty,
      s"$dir@v$v carries unmaterialized equality deletes; compact before " +
        s"branching (seq scoping does not transfer across lineages)")
    val bd = branchDir(dir, name)
    require(versions(bd).isEmpty, s"branch '$name' already exists at $dir")
    io.mkdirs(bd)
    io.writeLines(s"$bd/BRANCH", Seq(s"#fork=$dir@$v", s"#ts=${now()}"))
    // pointer carry across lineages: segments are absolute-pathed and
    // immutable, so a fork is O(pointers) — the parent's [[expire]] pins
    // segments any live branch still references, exactly like data files
    publish(bd, 1, Seq(s"#fork=$v", s"#ts=${now()}") ++
      carryManifest(dir, Some(v), Seq.empty))
    val sp = statsPath(dir, v)
    if (io.exists(sp)) io.writeLines(statsPath(bd, 1), io.readLines(sp))
    // the fork carries the parent's DECLARATION, not just file
    // pointers: without it a branch read serves PHYSICAL names and
    // stored values (dropping renames, declared order and nested
    // existence defaults — all user-visible), and a branch write cannot
    // address post-evolution members at all (the write schema would
    // come from file footers). Current declaration, per the engine's
    // time-travel convention (schema travels with the head, data with
    // the version). The retired ledger rides along so a branch-side ADD
    // after a parent-side DROP never re-addresses dropped bytes. From
    // here the lineages evolve independently — a post-fork parent ALTER
    // stays parent-local, a branch ALTER stays branch-local.
    declaredSchema(dir).foreach(declareSchema(bd, _))
    retiredColumns(dir).foreach { case (id, p) => retireColumn(bd, id, p) }
    // the partitioning declaration rides too: branch landings on a
    // partitioned parent cluster by the same transforms (and record the
    // same covering stats), so a fast-forwarded slice prunes exactly
    // like a head landing would
    val pts = partitioningOf(dir)
    if (pts.nonEmpty) declarePartitioning(bd, pts.map(_.spec), ptNumFiles(dir))
    bd
  }

  /** Branch names forked from this table. */
  def branches(dir: String): Seq[String] =
    io.list(s"$dir/branches")
      .filter(n => io.exists(s"$dir/branches/$n/BRANCH") &&
        !io.exists(s"$dir/branches/$n/RETIRED")).sorted

  /** The directory of a LIVE branch — the validated resolver every
    * branch-aware consumer ([[readBranch]], the `graft-table` stream's
    * `branch` option) goes through: a misspelled or retired name fails
    * loudly here instead of silently reading an empty table. */
  def resolveBranch(dir: String, name: String): String = {
    val bd = branchDir(dir, name)
    require(io.exists(s"$bd/BRANCH") && !io.exists(s"$bd/RETIRED"),
      s"no live branch '$name' at $dir (known: " +
        s"${branches(dir).mkString(", ")})")
    bd
  }

  /** Read a branch head (or a pinned branch version) — the consumption
    * half of branch isolation: auditors read the fork's lineage while
    * production reads the parent, same snapshot/pruning machinery. */
  def readBranch(spark: SparkSession, dir: String, name: String,
                 version: Option[Int] = None): DataFrame =
    read(spark, resolveBranch(dir, name), version)

  /** Publish the branch head into the parent — strictly fast-forward:
    * the parent must not have moved since the fork (a concurrent commit
    * makes this a MERGE, which has no universal answer — refuse loudly,
    * the caller re-forks from the new head). One manifest create, zero
    * bytes copied; the branch's stats ride along. On success the branch
    * is stamped promoted (its files belong to the parent's lifecycle
    * now — [[expire]] on it refuses; [[retireBranch]] is the exit).
    * Returns the parent's new version. */
  def fastForward(spark: SparkSession, dir: String, name: String): Int = {
    val bd = branchDir(dir, name)
    val bvs = versions(bd)
    require(bvs.nonEmpty, s"no branch '$name' at $dir")
    val bh = bvs.last
    val fork = io.readLines(manifestPath(bd, bvs.head))
      .collectFirst { case l if l.startsWith("#fork=") => l.drop(6).toInt }
      .getOrElse(throw new IllegalArgumentException(
        s"branch '$name' has no fork marker — not fast-forwardable"))
    require(eqDelsOf(bd, bh).isEmpty,
      s"branch '$name' carries unmaterialized equality deletes; compact " +
        s"the branch before fast-forwarding")
    require(versions(dir).last == fork,
      s"$dir advanced past the fork point v$fork; not a fast-forward — " +
        s"re-fork from the new head and replay the branch work")
    // the ownership crossing validates like promote: the branch lineage
    // enforced its own FORK-TIME gates, so a row can be in contract
    // there and out of contract HERE (constraints or NOT NULLs the
    // parent declared after the fork, or that never copied) — the
    // parent's gates judge the branch head's LIVE view (audit deletes
    // applied) before anything publishes. Gate-free parents stay
    // metadata-only (no scan is built).
    // the branch is a FOREIGN lineage here (it may have evolved since
    // the fork): structural pin compatibility first, then the parent's
    // gates in foreign-batch mode (absent/incompatible nested NOT NULL
    // paths refuse instead of silently skipping)
    validatePinCompat(spark, s"fast-forward of '$name' into $dir",
      fromDecl = declaredSchema(bd), fromFiles = filesOf(bd, bh),
      toDir = dir)
    if (hasDeclaredGates(dir))
      validateConstraintsDf(dir, read(spark, bd, Some(bh)),
        foreignBatch = true)
    io.mkdirs(manifestDir(dir))
    // ownership boundary: the branch's metadata may reference BRANCH-local
    // segments, which retireBranch will delete — expand and re-segment
    // into the PARENT's segment store so the promoted head owns its
    // metadata outright (one O(branch-metadata) copy at promote time)
    val bhRaw = rawManifest(bd, bh)
    val bhFiles = filesIn(bhRaw)
    val fileLines =
      if (bhFiles.length >= foldInlineAt(dir))
        Seq(SegPrefix + writeSegment(dir, bhFiles))
      else bhFiles
    // the same file set as the branch head: its schema header and delete
    // vectors hold as they are
    val bhHeaders = schemaHeader(bhRaw, Seq.empty, replacesAll = false) ++
      bhRaw.filter(_.startsWith("#del="))
    val lines = Seq(s"#ts=${now()}") ++ bhHeaders ++ fileLines
    if (!io.createExclusive(manifestPath(dir, fork + 1), lines))
      throw new java.util.ConcurrentModificationException(
        s"$dir advanced during fast-forward of '$name'; re-fork and replay")
    val bhHdr = rowsHeaderOf(bd, bh)
      .map { case (d, del) => rowsHeaderLine(d, del) }.toSeq
    val bhStats = sidecarLines(bd, bh)
    if ((bhHdr ++ bhStats).nonEmpty) {
      val statLines =
        if (bhStats.length >= foldInlineAt(dir))
          Seq(SegPrefix + writeSegment(dir, bhStats))
        else bhStats
      // the branch head's totals are the promoted head's totals — same
      // file set; the header stays a raw line (readers never open
      // segments to find it)
      io.writeLines(statsPath(dir, fork + 1), bhHdr ++ statLines)
    }
    // ownership flip: the parent references the branch's files now
    publish(bd, bh + 1, Seq(s"#promoted=$dir", s"#ts=${now()}") ++
      bhHeaders ++ bhFiles)
    fork + 1
  }

  /** Drop a branch's manifests, leaving data files to the parent's
    * lifecycle (they are referenced there after a fast-forward; after an
    * abandoned experiment they become [[vacuumOrphans]] debris under the
    * branch directory). */
  def retireBranch(dir: String, name: String): Unit =
    retire(branchDir(dir, name))

  /** Delete an ABANDONED branch entirely — manifests and branch-local
    * data files (parent-owned files are referenced by path, never stored
    * under the branch, so they are untouched). Refuses after a
    * fast-forward: the parent references the branch's files then, and
    * [[retireBranch]] is the correct exit. */
  def dropBranch(dir: String, name: String): Unit = {
    val bd = branchDir(dir, name)
    require(!versions(bd).lastOption.exists(v =>
      metaOf(bd, v).exists(_.startsWith("#promoted="))),
      s"branch '$name' was fast-forwarded into $dir — its files are " +
        s"production now; use retireBranch instead")
    deleteTree(bd)
  }

  // ---- write-audit-publish (zero-copy promotion) and vacuum ----

  /** Zero-copy snapshot promotion — the publish half of write-audit-
    * publish: a staging table lands and is AUDITED in isolation (profile
    * gate, row counts, dedup checks — none of it visible to production
    * readers), then its head is promoted into `toDir` by publishing its
    * FILE LIST (and delete vectors) as a new version there. No byte is
    * copied or moved: files are immutable and path-addressed, so two
    * manifests may reference them — promotion costs one manifest write no
    * matter how many terabytes passed the audit.
    *
    * `append = false` makes the staged snapshot `toDir`'s whole content
    * (the classic WAP replace); `append = true` adds the staged files to
    * `toDir`'s head. Stats lines ride along, so pruning works in the
    * promoted table immediately.
    *
    * Ownership contract (enforced loudly, not by convention): after
    * promotion the PROMOTED-TO table owns the shared files' lifecycle.
    * The staging head is stamped `#promoted=`, which makes [[expire]] on
    * the staging table REFUSE (its GC would delete files production now
    * reads); the staging side is ended with [[retire]], which drops its
    * manifests without touching data. Schema equality is validated when
    * appending (a promotion is not a schema migration). */
  /** The PHYSICAL shape a declared schema pins on its files: physical
    * names at every depth (struct members, array elements, map values),
    * declared types. What the destination's scan will actually address
    * in a promoted file. */
  private def physicalShape(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f => StructField(
        graft.sql.ColumnMapping.physOf(f), walk(f.dataType), f.nullable)))
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType => m.copy(valueType = walk(m.valueType))
      case other => other
    }
    walk(schema).asInstanceOf[StructType]
  }

  /** Structural-compatibility gate for the lineage crossings (promote,
    * fast-forward): every path BOTH sides address must agree in kind
    * (struct / array / map / atomic) and in type — equal, or the staged
    * type safely WIDENABLE to the destination's declared one (the same
    * set ALTER COLUMN TYPE accepts: byte→short/int/long, short→int/long,
    * int→long, float→double). Paths only one side carries are fine:
    * destination-only columns serve defaults / typed nulls per the
    * evolution contract (NOT NULL is the commit gates' concern), and
    * staged-only columns are invisible to the destination's pinned
    * scan. The staged side is judged by its own DECLARED physical shape
    * when it has one (the lineage's own invariants cover every landed
    * file, zero footer reads); an undeclared staging table falls back
    * to its head file's parquet footer. Same rule for the destination
    * pin. A names-only or append-only check here is not enough: a
    * replace promote swaps the file set but never the destination's
    * declaration, so a type-incompatible file set would publish and
    * every subsequent read would fail or serve typed nulls. */
  private def validatePinCompat(spark: SparkSession, what: String,
                                fromDecl: Option[String],
                                fromFiles: Seq[String],
                                toDir: String): Unit = {
    import org.apache.spark.sql.types._
    val pin: Option[StructType] = declaredSchema(toDir)
      .map(j => physicalShape(
        DataType.fromJson(j).asInstanceOf[StructType]))
      .orElse {
        val vs = versions(toDir)
        if (vs.isEmpty) None
        else filesOf(toDir, vs.last).headOption
          .map(f => spark.read.parquet(f).schema)
      }
    if (pin.isEmpty) return
    val staged: Option[StructType] = fromDecl
      .map(j => physicalShape(
        DataType.fromJson(j).asInstanceOf[StructType]))
      .orElse(fromFiles.headOption.map(f => spark.read.parquet(f).schema))
    if (staged.isEmpty) return
    val widen: Map[DataType, Set[DataType]] = Map(
      ByteType -> Set(ShortType, IntegerType, LongType),
      ShortType -> Set(IntegerType, LongType),
      IntegerType -> Set(LongType),
      FloatType -> Set(DoubleType))
    def ok(path: String, s: DataType, d: DataType): Unit = (s, d) match {
      case (ss: StructType, dd: StructType) =>
        ss.fields.foreach { sf =>
          dd.fields.find(_.name.equalsIgnoreCase(sf.name)).foreach { df =>
            ok(if (path.isEmpty) sf.name else s"$path.${sf.name}",
              sf.dataType, df.dataType)
          }
        }
      case (sa: ArrayType, da: ArrayType) =>
        ok(s"$path.element", sa.elementType, da.elementType)
      case (sm: MapType, dm: MapType) =>
        ok(s"$path.key", sm.keyType, dm.keyType)
        ok(s"$path.value", sm.valueType, dm.valueType)
      case (sv, dv) if sv == dv => ()
      case (sv, dv) if widen.get(sv).exists(_.contains(dv)) => ()
      case (sv, dv) => throw new IllegalArgumentException(
        s"$what refused: the staged lineage carries '$path' as " +
          s"${sv.simpleString} but the destination's physical pin " +
          s"reads it as ${dv.simpleString} — structurally incompatible" +
          "; evolve the destination (or restage under its shape) first")
    }
    ok("", staged.get, pin.get)
  }

  def promote(spark: SparkSession, fromDir: String, toDir: String,
              append: Boolean = true, version: Option[Int] = None): Int = {
    val fromVs = versions(fromDir)
    require(fromVs.nonEmpty, s"no committed version at $fromDir")
    val fv = version.getOrElse(fromVs.last)
    require(fromVs.contains(fv), s"version $fv not in $fromVs")
    // equality-delete seq numbers are PER-TABLE version numbers — they
    // don't transfer across manifest logs; normalize staging first
    require(eqDelsOf(fromDir, fv).isEmpty,
      s"$fromDir carries unmaterialized equality deletes; run compact() " +
        s"on staging before promoting (seq scoping does not transfer)")
    val fromRaw = rawManifest(fromDir, fv)
    val fromFiles = filesIn(fromRaw)
    val fromDels = fromRaw.filter(_.startsWith("#del="))
    // the staged files' physical schema, when their header records one
    val fromSchema = schemaIn(fromRaw).toSeq
    // EXPANDED copy, not pointer carry: retire() deletes the staging
    // table's segment files, so the promoted-to sidecar must own its lines
    val fromStats = sidecarLines(fromDir, fv)
    // a promotion lands rows the destination never validated: ALL its
    // declared gates — CHECK constraints AND (top-level + nested) NOT
    // NULL — apply to the staged LIVE view (audit deletes applied) like
    // any other commit. One scan, the price of declarations the staging
    // table didn't carry; gating on explicit constraints alone would
    // let a staging NULL land under a destination NOT NULL unseen.
    if (hasDeclaredGates(toDir))
      validateConstraintsDf(toDir, read(spark, fromDir, Some(fv)),
        foreignBatch = true)
    // promote is a POINTER CARRY: the destination will read these very
    // files under its own physical pin, so structural compatibility
    // (names AND types, nested) is validated on EVERY promote — append
    // and replace alike (a replace swaps the file set, never the
    // destination's declaration)
    validatePinCompat(spark, s"promote into $toDir",
      fromDecl = declaredSchema(fromDir), fromFiles = fromFiles,
      toDir = toDir)
    val toExists = versions(toDir).nonEmpty
    // an UNDECLARED destination has no evolution story (no defaults, no
    // retired-column ledger), so a column-set divergence on an append
    // promote is almost certainly a mistake — keep the strict name-set
    // equality there; declared destinations are governed by the pin +
    // gate validation above, which permits legitimate evolution drift
    if (toExists && append && declaredSchema(toDir).isEmpty) {
      val a = spark.read.parquet(filesOf(toDir, versions(toDir).last).head)
        .columns.toSet
      val b = spark.read.parquet(fromFiles.head).columns.toSet
      require(a == b,
        s"schema mismatch promoting into $toDir: ${a.diff(b)} vs ${b.diff(a)}")
    }
    val v =
      if (append && toExists) {
        // a promotion is an append to the destination: pointer carry,
        // promoted bulk as fresh destination-owned lines (fromStats is
        // already expanded — retire() deletes the staging segments)
        var headAt: Option[Int] = None
        val v0 = publishOnHeadRaw(toDir) { h =>
          headAt = h
          // staged files of unrecorded schema void the header
          val carried = carryManifest(toDir, h, fromSchema).filterNot(l =>
            fromSchema.isEmpty && fromFiles.nonEmpty &&
              l.startsWith(SchemaPrefix))
          Seq(s"#ts=${now()}") ++ carried ++ fromDels ++ fromFiles
        }
        val hdr = headerOrUpgrade(toDir, headAt).flatMap {
          case (d, del) =>
            // the staged lineage's own totals, if it kept them
            rowsHeaderOf(fromDir, fv).map { case (fd, fdel) =>
              rowsHeaderLine(d + fd, del + fdel)
            }
        }.toSeq
        val carried = carrySidecar(toDir, headAt)
        if ((hdr ++ carried ++ fromStats).nonEmpty)
          io.writeLines(statsPath(toDir, v0),
            hdr ++ carried ++ fromStats)
        v0
      } else {
        val v0 = publish(toDir, versions(toDir).lastOption.getOrElse(0) + 1,
          Seq(s"#ts=${now()}") ++
            schemaHeader(Seq.empty, fromSchema, replacesAll = true) ++
            fromDels ++ fromFiles)
        if (fromStats.nonEmpty)
          io.writeLines(statsPath(toDir, v0),
            derivedHeader(toDir, v0, fromStats) ++ fromStats)
        v0
      }
    // stamp the staging head: its files now belong to toDir's lifecycle —
    // expire() refuses on this marker, retire() is the exit
    publish(fromDir, fromVs.last + 1,
      Seq(s"#promoted=$toDir", s"#ts=${now()}") ++
        schemaHeader(fromRaw, Seq.empty, replacesAll = false) ++
        fromDels ++ fromFiles)
    v
  }

  /** End a promoted staging table: drop ALL its manifests and stats,
    * leaving data files in place (the promoted-to table references them;
    * its own [[expire]] governs their lifetime from here). A `RETIRED`
    * tombstone blocks [[vacuumOrphans]] from ever treating the now
    * manifest-less directory as all-orphan. */
  def retire(dir: String): Unit = {
    val vs = versions(dir)
    io.mkdirs(dir)
    io.writeLines(s"$dir/RETIRED", Seq(s"#ts=${now()}"))
    vs.foreach { v =>
      io.delete(manifestPath(dir, v))
      io.delete(statsPath(dir, v))
    }
    // metadata segments die with the manifests that referenced them —
    // promotion and fast-forward both copy EXPANDED (or re-segmented
    // destination-owned) metadata, so nothing outside this directory can
    // point at them
    io.list(segsDir(dir)).foreach { n =>
      val p = s"${segsDir(dir)}/$n"
      segCache.remove(p); io.delete(p)
    }
  }

  /** Delete data/vector files referenced by NO manifest — the debris a
    * crashed writer leaves (batch written, publish never reached; an
    * aborted merge/compact rewrite; an OCC loser that died mid-retry).
    * Commits are crash-safe BECAUSE unpublished files are simply garbage;
    * this is the sweeper that reclaims them. Only batch directories whose
    * entire tree is older than `graceMs` are removed — an in-flight
    * commit's files are always younger than the grace window. Refuses on
    * retired tables (no manifests ≠ no owners: the promoted-to table
    * holds the references). Returns the number of directories removed. */
  def vacuumOrphans(dir: String, graceMs: Long = 3600000L): Int = {
    require(!io.exists(s"$dir/RETIRED"),
      s"$dir is retired: its files belong to the table it was promoted " +
        s"into; vacuuming here would delete production data")
    // one reference snapshot: (version lineages scanned, batch dirs
    // referenced, segment paths referenced). Branch manifests count as
    // references — a fork pins parent batch dirs AND parent segments.
    def refSnapshot(): (Set[(String, Int)], Set[String], Set[String]) = {
      val lineages = (dir, versions(dir)) +: branches(dir).map { b =>
        val bd = branchDir(dir, b); (bd, versions(bd))
      }
      val files = lineages.flatMap { case (d, vs) => vs.flatMap(v =>
        filesOf(d, v) ++ delFilesOf(d, v) ++ eqDelsOf(d, v).map(_._3)) }
      val segs = lineages.flatMap { case (d, vs) =>
        vs.flatMap(v => segRefsOf(d, v)) }
      (lineages.flatMap { case (d, vs) => vs.map(d -> _) }.toSet,
        files.map(f => f.take(f.lastIndexOf('/'))).toSet, segs.toSet)
    }
    var (seen, referencedDirs, segRefs) = refSnapshot()
    val cutoff = now() - graceMs
    // Re-scan FRESH versions (published since the snapshot — only their
    // manifests are read, O(new commits)) right before each delete: a
    // writer whose batch aged past the grace window but whose publish
    // landed mid-sweep would otherwise lose its just-referenced files.
    // Together with the publisher-side guard in publishOnHeadTxn this
    // pins the protocol's contract: a publish that completes before the
    // delete is never torn; one that races into the same microseconds is
    // excluded by a grace window longer than the longest write stall.
    def stillOrphan(path: String): Boolean = {
      val lineages = (dir, versions(dir)) +: branches(dir).map { b =>
        val bd = branchDir(dir, b); (bd, versions(bd))
      }
      val fresh = lineages.flatMap { case (d, vs) =>
        vs.filterNot(v => seen((d, v))).map(d -> _) }
      if (fresh.nonEmpty) {
        referencedDirs ++= fresh.flatMap { case (d, v) =>
          (filesOf(d, v) ++ delFilesOf(d, v) ++ eqDelsOf(d, v).map(_._3))
            .map(f => f.take(f.lastIndexOf('/'))) }
        segRefs ++= fresh.flatMap { case (d, v) => segRefsOf(d, v) }
        seen ++= fresh
      }
      !referencedDirs.contains(path) && !segRefs.contains(path)
    }
    var removed = 0
    Seq(s"$dir/data", s"$dir/deletes").foreach { area =>
      io.list(area).map(n => s"$area/$n")
        .filter(d => io.isDir(d) && !referencedDirs.contains(d))
        .filter(d => newestMtime(d) < cutoff)
        .foreach { d =>
          if (stillOrphan(d)) { deleteTree(d); removed += 1 }
        }
    }
    // metadata-segment debris: a segment written for a publish that never
    // happened (crashed commit, OCC-retry fold) is referenced by no
    // manifest/sidecar of this table or its branches — sweep like data.
    io.list(segsDir(dir)).map(n => s"${segsDir(dir)}/$n")
      .filter(p => !segRefs.contains(p) && io.mtime(p) < cutoff)
      .foreach { p =>
        if (stillOrphan(p)) { segCache.remove(p); io.delete(p); removed += 1 }
      }
    removed
  }

  private def newestMtime(path: String): Long =
    if (!io.isDir(path)) io.mtime(path)
    else (io.mtime(path) +: io.list(path).map(n => newestMtime(s"$path/$n")))
      .max

  private def deleteTree(path: String): Unit = {
    if (io.isDir(path)) io.list(path).foreach(n => deleteTree(s"$path/$n"))
    io.delete(path)
  }

  /** The snapshot's file inventory as data — the `table$files` metadata
    * view every maintenance decision reads (compaction targets, skew in
    * file sizes, delete-vector debt per file). One row per data file:
    * path, bytes, and how many of its rows the snapshot's vectors have
    * erased. Cost: the manifest read plus a scan of the (tiny) vectors —
    * no data file is opened. */
  def filesMeta(spark: SparkSession, dir: String,
                version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val files = filesOf(dir, v).map(f => (f, io.size(f))).toDF("file", "size_bytes")
    val dels = delFilesOf(dir, v)
    if (dels.isEmpty) files.withColumn("n_deleted", lit(0L))
    else files.join(
      readDelVectors(spark, dels).groupBy(col("file_path"))
        .agg(count(lit(1)).as("n_deleted")),
      files("file") === col("file_path"), "left")
      .drop("file_path")
      .withColumn("n_deleted", coalesce(col("n_deleted"), lit(0L)))
  }

  /** The stats sidecar as data — one row per (file, column) bound the
    * pruning layers consult, plus whether a bloom filter covers it. */
  /** The snapshot's PARTITION inventory as data — the `table$partitions`
    * view a maintenance operator reads before deciding what to compact
    * or where skew lives: one row per (declared transform, partition
    * value) with file count, live rows and bytes, folded ENTIRELY from
    * the manifest + stats sidecar (no data file opened). A file whose
    * bounds straddle partition values reports as `mixed(lo..hi)` — an
    * honest layout signal (it is exactly the file a probe cannot skip),
    * never a guess. Rows are data rows (delete-vector debt is per-file,
    * not per-partition — [[filesMeta]] carries that axis). */
  /** The snapshot's METADATA layout as data — one row per `#seg=`
    * segment pointer (manifest and sidecar) plus one `inline` row per
    * side, with payload entry counts, on-disk bytes, and the pointer's
    * recorded covering ranges. The operational view behind segmented
    * manifests: an operator reads it to see whether commit metadata is
    * staying O(batch) (pointer counts bounded by the fold thresholds)
    * and which segments a selective query can skip (covers present).
    * Cost: raw header reads + one readLines per segment — manifest-sized
    * driver work, no data file opened. */
  def segmentsMeta(spark: SparkSession, dir: String,
                   version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    def side(kind: String, p: String): Seq[(String, String, Long, Long, String)] = {
      if (!io.exists(p)) return Seq.empty
      val raw = io.readLines(p)
      val ptrs = raw.filter(segRef).map { l =>
        val sp = segPath(l)
        val covers = segCovers(l).toSeq.sortBy(_._1).map {
          case (c, (_, lo, hi)) => s"$c:[$lo..$hi]"
        }.mkString(", ")
        (kind, sp, readSegment(sp).size.toLong,
          if (io.exists(sp)) io.size(sp) else 0L, covers)
      }
      val inline = raw.count(l =>
        l.nonEmpty && !l.startsWith("#"))
      if (inline == 0) ptrs
      else ptrs :+ ((kind, "(inline)", inline.toLong, 0L, ""))
    }
    (side("manifest", manifestPath(dir, v)) ++
      side("sidecar", statsPath(dir, v)))
      .toDF("kind", "path", "entries", "bytes", "covers")
      .orderBy(col("kind"), col("path"))
  }

  /** Column-level statistics as data (`#colstats`): one row per column
    * with the snapshot fold the SQL scan serves CBO — exact null count,
    * merged-HLL NDV, the typed min/max bound when every file carries
    * one, and coverage (files with stats / data files). Manifest-sized:
    * one sidecar read, zero data files opened. */
  def colStatsMeta(spark: SparkSession, dir: String,
                   version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val nFiles = filesOf(dir, v).size.toLong
    val cbo = columnStatsOf(dir, v)
    val cols = statColsOf(dir, v).filter(c =>
      PartitionTransform.parseOpt(c).isEmpty)
    cols.map { c =>
      val (nulls, ndv) = cbo.getOrElse(c, (None, None))
      val stats = statsOf(dir, v, c)
      // fastMinMax already returns str bounds DECODED — decoding again
      // would corrupt '+' to ' ' and crash on a trailing literal '%'
      val bound = fastMinMax(dir, c, Some(v)).map {
        case (_, lo, hi) => (lo, hi)
      }
      (c, nulls, ndv,
        bound.map(_._1).orNull, bound.map(_._2).orNull,
        stats.size.toLong, nFiles)
    }.toDF("column", "null_count", "ndv", "min", "max",
      "files_with_stats", "data_files")
      .orderBy(col("column"))
  }

  def partitionsMeta(spark: SparkSession, dir: String,
                     version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val files = filesOf(dir, v)
    val rows = rowsOf(dir, v)
    val pts = partitioningOf(dir)
    def dayOf(micros: BigDecimal): String =
      java.time.LocalDate.ofEpochDay(
        Math.floorDiv(micros.toLong, 86400000000L)).toString
    val out = pts.flatMap { t =>
      val statName = t.statNames.head
      val stats = statsOf(dir, v, statName)
      def valueOf(f: String): String = stats.get(f) match {
        case None | Some(("null", _, _)) | Some(("wild", _, _)) => "unknown"
        case Some((tag, lo, hi)) =>
          // render the TRANSFORMED bound; equal ends = one partition
          def tv(b: String): String = t match {
            case _: PartitionTransform.Days if tag == "num" =>
              dayOf(BigDecimal(b))
            case PartitionTransform.Truncate(w, _) if tag == "str" =>
              StatValue.decodeStr(b).take(w)
            case PartitionTransform.Truncate(w, _) if tag == "num" =>
              val n = BigDecimal(b)
              (n - (((n % w) + w) % w)).toBigInt.toString
            case _ if tag == "str" => StatValue.decodeStr(b)
            case _ => b
          }
          val (lv, hv) = (tv(lo), tv(hi))
          if (lv == hv) lv else s"mixed($lv..$hv)"
      }
      files.groupBy(valueOf).toSeq.map { case (value, fs) =>
        (t.spec, value, fs.size.toLong,
          fs.flatMap(rows.get).sum, fileBytes(fs))
      }
    }
    out.toDF("transform", "value", "files", "rows", "bytes")
      .orderBy(col("transform"), col("value"))
  }

  def fileStatsMeta(spark: SparkSession, dir: String,
                    version: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val v = version.getOrElse(vs.last)
    val lines = sidecarLines(dir, v)
    // the `#` rows pseudo-column is surfaced by [[filesMeta]]/[[fastCount]],
    // not as a stats bound — this view is the PRUNING metadata
    val parsed = lines.map(_.split('\t').toSeq).collect {
      case Seq(f, c, tag, lo, hi) if c != "#" => (f, c, tag, lo, hi)
    }
    val blooms = parsed.collect { case (f, c, "bloom", _, _) => (f, c) }.toSet
    val ranged = parsed.filter(t => RangeTags(t._3))
      .map { case (f, c, tag, lo, hi) =>
        (f, c, tag,
          Option(if (tag == "str") StatValue.decodeStr(lo) else lo),
          Option(if (tag == "str") StatValue.decodeStr(hi) else hi),
          blooms.contains((f, c)))
      }
    // a bloom-only (file, column) still has a row: coverage is the point
    val bloomOnly = (blooms -- ranged.map(t => (t._1, t._2)).toSet).toSeq
      .map { case (f, c) =>
        (f, c, "bloom", Option.empty[String], Option.empty[String], true)
      }
    (ranged ++ bloomOnly)
      .toDF("file", "column", "tag", "min", "max", "has_bloom")
  }

  /** Expire history: drop all but the newest `keepLast` manifests and
    * delete data files no RETAINED manifest references — the orthogonal
    * GC pass every manifest-log format pairs with commits (commits never
    * delete; only expiration does). Readers pinned to an expired version
    * fail loudly on their next resolve, which is the contract: retention
    * is an operational policy, not a correctness knob.
    *
    * For [[commitOnce]] users: expiring a manifest also forgets its txn
    * id, so retention must exceed the source's replay horizon (the same
    * contract as Delta's txn retention). Pass that horizon as
    * `txnReplayHorizon` and expire REFUSES a `keepLast` below it —
    * aggressive GC must fail loudly, not silently break exactly-once.
    *
    * Batch directories emptied by the deletion are removed along with
    * their `_SUCCESS`/checksum markers. Returns the number of data files
    * deleted. */
  /** Expire history older than a wall-clock instant: keeps every
    * version stamped at or after `tsMillis` (always at least the head),
    * then runs the standard [[expire]] with all its guards — tag pins,
    * equality-delete scoping, the txn replay horizon. The retention-
    * policy spelling of expire ("keep 7 days"), since operators reason
    * in time, not version counts. */
  def expireBefore(dir: String, tsMillis: Long,
                   txnReplayHorizon: Int = 0): Int = {
    val keep = math.max(1,
      versions(dir).flatMap(v => tsOf(dir, v)).count(_ >= tsMillis))
    expire(dir, math.max(keep, txnReplayHorizon), txnReplayHorizon)
  }

  def expire(dir: String, keepLast: Int, txnReplayHorizon: Int = 0): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    // a branch shares its parent's data files; a branch-local GC would
    // delete them under production readers — branches end via
    // retireBranch, the PARENT's expire governs file lifetime
    require(!io.exists(s"$dir/BRANCH"),
      s"$dir is a branch: it references parent-owned files; expire the " +
        s"parent table instead (retireBranch ends the branch itself)")
    require(keepLast >= txnReplayHorizon,
      s"keepLast=$keepLast is below the txn replay horizon " +
        s"$txnReplayHorizon: expiring that deep forgets txn ids a replay " +
        s"could redeliver, breaking exactly-once")
    val vs = versions(dir)
    require(!vs.lastOption.exists(v =>
      metaOf(dir, v).exists(_.startsWith("#promoted="))),
      s"$dir's head is promoted: its files belong to the promoted-to " +
        s"table now — expiring here would GC files production reads; " +
        s"use retire() instead")
    val (dead, kept) = vs.splitAt(math.max(0, vs.length - keepLast))
    // a tag is a GC pin: expiring a tagged version would turn the named
    // audit anchor into a dangling ref — delete the tag first, loudly
    val pinned = tags(dir).filter { case (_, v) => dead.contains(v) }
    require(pinned.isEmpty,
      s"expire would drop tagged version(s) ${pinned.toSeq.sorted} at " +
        s"$dir; deleteTag first if the pin is no longer needed")
    // equality-delete applicability is scoped by FIRST-APPEARANCE version
    // (addedAtOf) — dropping manifests older than an unmaterialized delete
    // would shift that inference forward and silently stop the delete
    // applying in retained pinned reads; materialize first, then expire
    require(dead.isEmpty ||
      kept.forall(v => eqDelsOf(dir, v).isEmpty),
      s"retained history of $dir carries unmaterialized equality " +
        s"deletes; run compact() to fold them into the data files before " +
        s"expiring (their file scoping is derived from manifest history)")
    // delete files (positional vectors AND equality-delete key files) are
    // referenced files like any other: live while any retained manifest
    // lists them, GC'd when none does (a compaction that materialized
    // them orphans the old ones here)
    // live branches reference parent data files from their fork point —
    // they pin those files even when no retained parent manifest does
    val branchLive = branches(dir).flatMap { b =>
      val bd = branchDir(dir, b)
      versions(bd).flatMap(v =>
        filesOf(bd, v) ++ delFilesOf(bd, v) ++ eqDelsOf(bd, v).map(_._3))
    }.toSet
    val liveFiles = kept.flatMap(v =>
      filesOf(dir, v) ++ delFilesOf(dir, v) ++
        eqDelsOf(dir, v).map(_._3)).toSet ++ branchLive
    val deadFiles = dead.flatMap(v =>
      filesOf(dir, v) ++ delFilesOf(dir, v) ++
        eqDelsOf(dir, v).map(_._3)).toSet -- liveFiles
    // metadata segments GC exactly like data files: live while any
    // retained manifest/sidecar (or a live branch's) points at them
    val branchSegs = branches(dir).flatMap { b =>
      val bd = branchDir(dir, b)
      versions(bd).flatMap(v => segRefsOf(bd, v))
    }.toSet
    val liveSegs = kept.flatMap(v => segRefsOf(dir, v)).toSet ++ branchSegs
    val deadSegs = dead.flatMap(v => segRefsOf(dir, v)).toSet -- liveSegs
    // manifests first: a crash mid-expire must never leave a manifest
    // pointing at deleted files
    dead.foreach { v =>
      io.delete(manifestPath(dir, v))
      io.delete(statsPath(dir, v))
    }
    deadSegs.foreach { p => segCache.remove(p); io.delete(p) }
    deadFiles.foreach(io.delete)
    // hygiene: a batch dir whose parquet files are all gone keeps only
    // write markers — drop them and the dir (leaving them accumulates
    // 10^5 empty dirs on a streaming landing)
    deadFiles.map(f => f.take(f.lastIndexOf('/'))).toSet[String]
      .foreach { d =>
        val leftover = io.list(d)
        val junk = leftover.filter(n => n == "_SUCCESS" || n.endsWith(".crc"))
        if ((leftover.toSet -- junk).isEmpty) {
          junk.foreach(n => io.delete(s"$d/$n"))
          io.delete(d)
        }
      }
    deadFiles.size
  }
}

/** Typed encoding of manifest-stat values. One ordered axis per family:
  * everything numeric-like ("num" — integers, floats, decimals, booleans,
  * dates as epoch day, timestamps as epoch micros) compares as
  * BigDecimal; strings ("str") URL-encode for the tab-separated format
  * and compare decoded. A value that fits neither (null, NaN/Inf — parquet
  * min/max on non-finite floats is unreliable anyway) encodes to None and
  * the file is kept. */
/** Executor-side bloom bitmap fold: input is a bit position in [0, mBits),
  * state is the finished m/8-byte bitmap itself (fixed size, mergeable by
  * byte-wise OR). The byte layout — bit n ↔ byte n/8, bit n%8 within the
  * byte — is exactly `java.util.BitSet.valueOf`'s, so the sidecar wire
  * format (Base64 of the little-endian byte image) is unchanged from the
  * driver-built era and old lines stay readable. */
private[sinks] class BloomBitsAgg(mBits: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Byte], Array[Byte]] {
  def zero: Array[Byte] = new Array[Byte](mBits / 8)
  def reduce(b: Array[Byte], pos: Long): Array[Byte] = {
    val p = pos.toInt
    b(p >>> 3) = (b(p >>> 3) | (1 << (p & 7))).toByte
    b
  }
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
  def finish(r: Array[Byte]): Array[Byte] = r
  def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
  def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
    org.apache.spark.sql.Encoders.BINARY
}

private[graft] object StatValue {

  /** Encode a stats value or query bound by its runtime type. */
  def encodeBound(value: Any): Option[(String, String)] = value match {
    case null => None
    case b: Boolean => Some(("num", if (b) "1" else "0"))
    case n: Byte => Some(("num", n.toString))
    case n: Short => Some(("num", n.toString))
    case n: Int => Some(("num", n.toString))
    case n: Long => Some(("num", n.toString))
    case n: Float =>
      if (java.lang.Float.isFinite(n)) Some(("num", BigDecimal(n.toDouble).toString))
      else None
    case n: Double =>
      if (java.lang.Double.isFinite(n)) Some(("num", BigDecimal(n).toString))
      else None
    case n: java.math.BigDecimal => Some(("num", n.toPlainString))
    case n: BigDecimal => Some(("num", n.bigDecimal.toPlainString))
    case d: java.sql.Date => Some(("num", d.toLocalDate.toEpochDay.toString))
    case d: java.time.LocalDate => Some(("num", d.toEpochDay.toString))
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(("num", (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString))
    case i: java.time.Instant =>
      Some(("num", (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString))
    case s: String =>
      Some(("str", java.net.URLEncoder.encode(s, "UTF-8")))
    case _ => None
  }

  def decodeStr(encoded: String): String =
    java.net.URLDecoder.decode(encoded, "UTF-8")

  /** [[utf8Compare]] as an `Ordering` — for min/max folds over bounds. */
  val utf8Ord: Ordering[String] = (a, b) => utf8Compare(a, b)

  /** Unsigned UTF-8 byte order over DECODED strings — Spark's own
    * UTF8String collation. Java's UTF-16 `compareTo` disagrees with it
    * beyond the BMP (surrogate pairs sort below U+E000..U+FFFF), so any
    * fold or comparison that must agree with what Spark's min/max wrote
    * per file — range-pruning bound checks, segment-cover folds, the
    * table-level string extremes, TopN bound admission — compares here,
    * never with String ordering. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var r = 0
    while (r == 0 && i < x.length && i < y.length) {
      r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
    }
    if (r != 0) r else x.length - y.length
  }
}

/** The default (local-filesystem) binding, plus the oracle-checked query. */
object VersionedTable
    extends VersionedTableOps(new SwitchableTableIO(TableIO.local)) {

  /** Bind the process-wide metadata backend — what lets the SQL
    * catalog (which references this singleton throughout) run over
    * HDFS/ABFS: `spark.sql.catalog.graft.io=hadoop` calls this at
    * catalog initialize. ONE backend per driver process: the engine's
    * path-keyed memos (segments, properties, CBO folds) are flushed on
    * switch, so configure the backend once, before table IO — not as a
    * per-query toggle. */
  def setBackend(b: TableIO): Unit = {
    io.asInstanceOf[SwitchableTableIO].set(b)
    clearPathMemos()
    // an explicit programmatic switch releases the catalog-config latch:
    // the caller changed the store deliberately (specs interpose and
    // restore backends this way), so a later catalog initialize may
    // re-declare the binding rather than refuse against a stale kind
    graft.sql.GraftCatalog.resetIoLatch()
  }

  def backend: TableIO = io.asInstanceOf[SwitchableTableIO].current

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
    val tmp = java.nio.file.Files.createTempDirectory("graft_versioned_")
    val dir = tmp.toString
    val v1 = commit(ev.filter(col("event_id") % 2 === 0), dir)
    val v2 = commit(ev.filter(col("event_id") % 2 === 1), dir)
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact_")
    val dir = tmp.toString
    (0 until 3).foreach { b =>
      commitOnce(ev.filter(col("event_id") % 3 === b), dir, s"q_compact:$b")
    }
    val before = versions(dir).last
    val v = compact(spark, dir, targetBytes = 1L << 30)
    require(v == before + 1, s"compact did not publish: $v vs $before")
    require(read(spark, dir, Some(before)).count() ==
      read(spark, dir, Some(v)).count(), "pre-compact version torn")
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_sortord_")
    val dir = tmp.toString
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_delvec_")
    val dir = tmp.toString
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    val v2 = commit(ev.filter(col("event_id") % 2 === 1), dir)
    val v3 = deleteWhere(spark, dir, col("event_id") % 7 === 3)
    val v4 = deleteWhere(spark, dir, col("value") > 90.0)
    require(v3 == v2 + 1 && v4 == v3 + 1,
      s"delete commits did not publish: $v2 -> $v3 -> $v4")
    // time travel across deletes: the pre-delete snapshot still has it all
    require(read(spark, dir, Some(v2)).count() == ev.count(),
      "pre-delete snapshot torn by delete commits")
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_eqdel_")
    val dir = tmp.toString
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    commit(ev.filter(col("event_id") % 2 === 1), dir)
    val dataDirsBefore = io.list(s"$dir/data").size
    val vDel = deleteByKeys(spark, dir, "event_id",
      ev.filter(col("event_id") % 9 === 0).select(col("event_id")))
    require(io.list(s"$dir/data").size == dataDirsBefore,
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_merge_")
    val dir = tmp.toString
    commitClustered(ev, dir, zCols = Seq("event_id"),
      statCols = Seq("event_id"), numFiles = 8)
    val updates = ev.filter(col("event_id") % 10 === 0)
      .withColumn("value", col("value") + 1000.0)
    val inserts = ev.filter(col("event_id") % 10 === 1)
      .withColumn("event_id", col("event_id") + 10000000L)
    merge(spark, dir, updates.unionByName(inserts), "event_id")
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_")
    val dir = tmp.toString
    val v = commit(ev.repartition(8, col("event_id")), dir)
    writeStats(spark, dir, v, Seq("event_id"))
    writeBlooms(spark, dir, v, Seq("event_id"))
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdcmerge_")
    val dir = tmp.toString
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_ck_")
    val dir = tmp.toString
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdf_")
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_branch_")
    val dir = tmp.toString
    commit(ev.filter(col("event_id") % 2 === 0), dir)
    val bd = createBranch(dir, "audit")
    commit(ev.filter(col("event_id") % 2 === 1), bd)
    deleteWhere(spark, bd, col("value") > 450.0)
    require(read(spark, dir).count() ==
      ev.filter(col("event_id") % 2 === 0).count(),
      "branch mutation leaked into the parent before fast-forward")
    val dataDirs = io.list(s"$dir/data").size
    fastForward(spark, dir, "audit")
    require(io.list(s"$dir/data").size == dataDirs,
      "fast-forward copied data into the parent; it must be manifest-only")
    retireBranch(dir, "audit")
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_wap_")
    val staging = s"$tmp/staging"
    val prod = s"$tmp/prod"
    commit(ev, staging)
    deleteWhere(spark, staging, col("value") > 400.0) // the audit
    promote(spark, staging, prod, append = false)
    retire(staging)
    require(io.list(s"$prod/data").isEmpty,
      "promotion copied data files; it must be manifest-only")
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
    val tmp = java.nio.file.Files.createTempDirectory("graft_hpart_")
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
    java.nio.file.Files.walk(tmp).forEach(p => p.toFile.deleteOnExit())
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
