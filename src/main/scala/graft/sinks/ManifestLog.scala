package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.functions._

/** The manifest log of [[VersionedTableOps]]: version and sidecar IO,
  * segmented metadata and the carry/fold every commit publishes through,
  * the `#rows=` and `#schema=` headers, the OCC publishes and the
  * exactly-once arbiter, and the directory seam the SQL catalog uses. */
private[sinks] trait ManifestLog { self: VersionedTableOps =>

  private[sinks] def manifestPath(dir: String, v: Int) =
    s"${manifestDir(dir)}/v$v"
  private[sinks] def statsPath(dir: String, v: Int) =
    s"${manifestDir(dir)}/s$v"
  private[sinks] def segsDir(dir: String) = s"${manifestDir(dir)}/segs"

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
  private[sinks] val SegPrefix = "#seg="
  private[sinks] def segRef(l: String): Boolean = l.startsWith(SegPrefix)

  /** Per-commit fold thresholds (overridable per table via properties
    * `manifest.fold.inline` / `manifest.fold.segs`): inline bulk lines
    * at/over the first fold into one segment; a pointer list at/over the
    * second folds ALL segments into one — so manifest size is bounded by
    * O(fold.segs) pointers and the amortized fold cost per commit is
    * O(files / fold.segs) lines, not O(files). */
  private[sinks] def foldInlineAt(dir: String): Int =
    tableProperties(dir).get("manifest.fold.inline").map(_.toInt)
      .getOrElse(128)
  private def foldSegsAt(dir: String): Int =
    tableProperties(dir).get("manifest.fold.segs").map(_.toInt)
      .getOrElse(64)

  /** Segments are immutable from birth (UUID-named, written before any
    * pointer publishes), so a by-path cache is sound forever; bounded by
    * wholesale clear — entries are re-readable from disk. */
  private[sinks] val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val SegCacheMax = 4096

  private[sinks] def readSegment(path: String): Seq[String] = {
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
  private[sinks] def writeSegment(dir: String, lines: Seq[String]): String = {
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
  private[sinks] def segPath(l: String): String =
    l.drop(SegPrefix.length).takeWhile(_ != '\t')
  private[sinks] def segCovers(l: String)
      : Map[String, (String, String, String)] =
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
  private[sinks] def coversOf(payload: Seq[String])
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

  /** Splice segment payloads in place of their pointers (one level). */
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

  /** Max files per statsLines aggregate pass — see the chunking note
    * there. 512 rows × ~25 KB of sketches ≈ 12 MB per collect.
    * Private behind [[withStatsChunkFiles]] so the chunked path is
    * spec-testable at toy scale without exposing a bare mutable knob. */
  private[sinks] var StatsChunkFiles = 512

  /** Test seam: run `f` with the chunk size overridden, always
    * restoring — the only sanctioned way to mutate [[StatsChunkFiles]]. */
  private[sinks] def withStatsChunkFiles[T](n: Int)(f: => T): T = {
    require(n > 0, s"chunk size must be positive, got $n")
    val prev = StatsChunkFiles
    StatsChunkFiles = n
    try f finally StatsChunkFiles = prev
  }

  /** The version's stats sidecar PAYLOAD with segments spliced in (empty
    * when absent) — what every stats consumer reads. The `#rows=` totals
    * header is metadata about the payload, not payload: it is excluded
    * here and read via [[rowsHeaderOf]] (raw, O(1)) instead. */
  private[graft] def sidecarLines(dir: String, v: Int): Seq[String] = {
    val p = statsPath(dir, v)
    if (!io.exists(p)) Seq.empty
    else expandSegs(io.readLines(p))
      .filterNot(_.startsWith("#rows="))
  }

  /** Segment paths version `v` references (manifest AND sidecar) — the
    * GC reference set. */
  private[sinks] def segRefsOf(dir: String, v: Int): Seq[String] = {
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
  private[sinks] def carryManifest(dir: String, h: Option[Int],
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
  private[sinks] def carrySidecar(dir: String, h: Option[Int]): Seq[String] =
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
  private[sinks] def carryManifestExcept(dir: String, raw: Seq[String],
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
  private[sinks] def carrySidecarExcept(dir: String, h: Option[Int],
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
  private[sinks] def rewriteHeader(dir: String, h: Option[Int],
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
  private[sinks] def segLine(dir: String, payload: Seq[String],
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
  private[sinks] def rowsHeaderLine(data: Long, del: Long): String =
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
  private[sinks] def headerOrUpgrade(dir: String,
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
  private[sinks] def sumRows(lines: Seq[String]): Long =
    lines.iterator.map(_.split('\t').toSeq).collect {
      case Seq(_, "#", "rows", n, _) => n.toLong
    }.sum

  /** Header for a REWRITE path's freshly-built sidecar `lines`: derived
    * iff they cover every data and delete file of the just-published
    * version (they do whenever stats maintenance is intact; absence
    * degrades to the fold, never to a wrong count). */
  private[sinks] def derivedHeader(dir: String, v: Int,
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
  private[sinks] def retryingShape[T](attempts: Int)(op: => T): T = {
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
  private[sinks] def rawManifest(dir: String, version: Int): Seq[String] =
    io.readLines(manifestPath(dir, version))

  private[sinks] def filesIn(raw: Seq[String]): Seq[String] =
    expandSegs(raw).filter(l => l.nonEmpty && !l.startsWith("#"))

  private[sinks] def delsIn(raw: Seq[String]): Seq[String] =
    raw.collect { case l if l.startsWith("#del=") => l.drop(5) }

  private[sinks] def eqDelsIn(raw: Seq[String]): Seq[(Int, String, String)] =
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
  private[sinks] val SchemaPrefix = "#schema="

  private[sinks] def schemaIn(raw: Seq[String]): Option[StructType] =
    raw.collectFirst {
      case l if l.startsWith(SchemaPrefix) =>
        DataType.fromJson(l.drop(SchemaPrefix.length)).asInstanceOf[StructType]
    }

  /** The physical schema a batch written from `df` carries in its
    * footers, as a parquet read serves it. */
  private[sinks] def physOf(df: DataFrame): StructType = relaxed(df.schema)

  /** The `#schema=` header line of a publish built on a head whose raw
    * manifest is `headRaw` (empty = no head). `added` holds the physical
    * schemas of the data files the publish lands (empty = none);
    * `replacesAll` is true when no head data file stays live. The header
    * survives only while every live file is known to match it. */
  private[sinks] def schemaHeader(headRaw: Seq[String],
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
  private[sinks] def physSchemaOf(dir: String,
      raw: Seq[String]): Option[StructType] =
    declPhysOf(dir).orElse(schemaIn(raw))

  /** Scan of `files` under `pin` — the one place an engine read falls
    * back to footer inference (no pin). */
  private[sinks] def scan(spark: SparkSession, files: Seq[String],
                          pin: Option[StructType]): DataFrame =
    pin.fold(spark.read.parquet(files: _*))(
      spark.read.schema(_).parquet(files: _*))

  /** The one schema positional delete vectors are written with
    * ([[deleteWhere]], [[updateWhere]], consolidation): their reads pin
    * it instead of inferring it from a footer. */
  private val DelVectorSchema = StructType.fromDDL("file_path STRING, pos LONG")

  private[sinks] def readDelVectors(spark: SparkSession,
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
  private[sinks] def addedAtOf(dir: String,
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
  private[sinks] def publishOnHead(dir: String, guardFiles: Seq[String] = Nil)(
      build: (Option[Int], Seq[String]) => Seq[String]): Int =
    publishOnHeadRaw(dir, guardFiles)((h: Option[Int]) =>
      build(h, h.map(filesOf(dir, _)).getOrElse(Seq.empty)))

  /** [[publishOnHead]] WITHOUT the expanded file list: the pure-append
    * shapes carry the head as raw pointers and never look at individual
    * files, so expanding every segment per attempt would quietly turn an
    * O(batch) commit back into an O(table-files) one. */
  private[sinks] def publishOnHeadRaw(dir: String,
      guardFiles: Seq[String] = Nil)(
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
  private[sinks] def publishOnHeadTxn(dir: String, txnId: Option[String],
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
  private[sinks] def discardUnpublishedBatch(newFiles: Seq[String]): Unit = {
    newFiles.foreach(io.delete)
    newFiles.headOption.foreach { f =>
      val bdir = f.substring(0, f.lastIndexOf('/'))
      io.list(bdir).foreach(n => io.delete(s"$bdir/$n"))
      io.delete(bdir)
    }
  }

  /** Write `df` as one immutable batch under `data/`; returns file paths. */
  private[sinks] def writeBatch(df: DataFrame, dir: String): Seq[String] = {
    val batchDir = s"$dir/data/${java.util.UUID.randomUUID}"
    df.write.parquet(batchDir)
    io.list(batchDir).filter(_.endsWith(".parquet")).sorted
      .map(n => s"$batchDir/$n")
  }
}
