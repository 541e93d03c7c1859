package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Segment COVERING RANGES — the manifest-list half of segmented
  * metadata: each `#seg=` pointer records a true enclosure of its
  * payload's per-column ranges, and planning drops whole segments UNREAD
  * when a cover is provably disjoint with a pushed predicate. The scale
  * claim under test: selective planning is O(matching segments +
  * headers), not O(table files) — on a time-ordered 100 TB landing, a
  * recent-window query's driver cost stops growing with table history.
  * Soundness: covers only ever prune EXACTLY (an enclosure disjoint from
  * the probe admits no file), so the superset guarantee never rests on
  * them. */
class SegmentCoverSpec extends SparkSpec {
  import spark.implicits._

  /** LocalTableIO that records every readLines path — the observable for
    * "this segment was never opened". */
  private class CountingIO extends LocalTableIO {
    val reads = scala.collection.mutable.ArrayBuffer[String]()
    override def readLines(path: String): Seq[String] = {
      reads.synchronized { reads += path }
      super.readLines(path)
    }
    def segReads: Seq[String] =
      reads.synchronized { reads.filter(_.contains("/segs/")).distinct.toSeq }
  }

  private val backend: TableIO = TableIO.local
  private lazy val ops = new VersionedTableOps(backend)

  private def band(lo: Long, hi: Long) = spark.range(lo, hi)
    .select(col("id"), (col("id") % 5).as("k"))

  private def threeBands(dir: String): Seq[Int] =
    Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)).map { case (lo, hi) =>
      ops.commitClustered(band(lo, hi), dir, zCols = Seq("id"),
        statCols = Seq("id"), numFiles = 2)
    }

  test("pointer lines carry covers; range planning opens ONLY the " +
    "matching segments") {
    val dir = tmpDir("cov-range")
    val vs = threeBands(dir)
    // every pointer line records the id cover inline
    val raw = backend.readLines(s"$dir/manifests/v${vs.last}")
      .filter(_.startsWith("#seg="))
    assert(raw.size == 3 && raw.forall(_.split('\t').length >= 5),
      s"pointers must carry covers: $raw")
    // fresh ops + counting IO: an empty segment cache, so every segment
    // open is observable
    val cio = new CountingIO
    val cops = new VersionedTableOps(cio)
    val keep = cops.prunedFiles(dir, vs.last, "id", 2100L, 2200L)
    assert(keep.nonEmpty && keep.size <= 2)
    // exactly the third band's manifest+sidecar segments were read — the
    // two disjoint bands stayed closed
    val opened = cio.segReads
    assert(opened.size == 2,
      s"expected 2 segment opens (band-3 manifest + sidecar): $opened")
    // and the result is exact: pruned read == full read under the filter
    val pruned = cops.prunedRead(spark, dir, "id", 2100L, 2200L)
      .filter(col("id").between(2100L, 2200L))
    val full = cops.read(spark, dir).filter(col("id").between(2100L, 2200L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("a probe outside every cover plans against ZERO opened segments") {
    val dir = tmpDir("cov-none")
    val vs = threeBands(dir)
    val cio = new CountingIO
    val cops = new VersionedTableOps(cio)
    assert(cops.prunedFiles(dir, vs.last, "id", 50000L, 60000L).isEmpty)
    assert(cio.segReads.isEmpty,
      s"fully-disjoint probe must open no segment: ${cio.segReads}")
  }

  test("equality probes skip segments whose cover excludes every value") {
    val dir = tmpDir("cov-eq")
    val vs = threeBands(dir)
    val cio = new CountingIO
    val cops = new VersionedTableOps(cio)
    val admit = cops.prunedFilesEq(spark, dir, vs.last, "id",
      Seq(1500L))
    assert(admit.nonEmpty)
    // of the three manifest segments, only band 2's may be opened (the
    // sidecar segments feed the stats/bloom maps and are read in full —
    // the file-list skip is the asserted half)
    val manifestSegs = backend.readLines(s"$dir/manifests/v${vs.last}")
      .filter(_.startsWith("#seg="))
      .map(_.drop(5).takeWhile(_ != '\t')).toSet
    val openedManifest = cio.segReads.filter(manifestSegs.contains)
    assert(openedManifest.size == 1,
      s"eq probe must open one manifest segment: $openedManifest")
  }

  test("unpartitioned appends (no covers) stay correct: expand-and-" +
    "refine, never mis-prune") {
    val dir = tmpDir("cov-plain")
    ops.commitClustered(band(0, 1000), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 2)
    ops.commit(band(5000, 5100), dir) // rows-only stats, no cover
    val v = ops.versions(dir).last
    // the uncovered segment must survive ANY probe (absence = expand)
    val keep = ops.prunedFiles(dir, v, "id", 5050L, 5060L)
    assert(keep.nonEmpty)
    val got = ops.prunedRead(spark, dir, "id", 5050L, 5060L)
      .filter(col("id").between(5050L, 5060L)).count()
    assert(got == 11L)
  }

  test("fold-all unions covers: the merged pointer still skips a fully-" +
    "disjoint probe with zero opens") {
    val dir = tmpDir("cov-fold")
    ops.setTableProperty(dir, "manifest.fold.segs", "2")
    threeBands(dir)
    val v = ops.versions(dir).last
    val ptrs = backend.readLines(s"$dir/manifests/v$v")
      .filter(_.startsWith("#seg="))
    assert(ptrs.size <= 2, s"fold-all must have folded: $ptrs")
    assert(ptrs.exists(_.split('\t').length >= 5),
      "the folded pointer must keep a unioned cover")
    val cio = new CountingIO
    val cops = new VersionedTableOps(cio)
    assert(cops.prunedFiles(dir, v, "id", 50000L, 60000L).isEmpty)
    assert(cio.segReads.isEmpty,
      s"unioned cover must still skip unread: ${cio.segReads}")
    // in-range still exact after the fold
    val got = cops.prunedRead(spark, dir, "id", 500L, 2500L)
      .filter(col("id").between(500L, 2500L)).count()
    assert(got == 2001L)
  }

  test("SQL pushdown path (prunedFilesPushed) inherits the segment skip") {
    val dir = tmpDir("cov-pushed")
    val vs = threeBands(dir)
    val cio = new CountingIO
    val cops = new VersionedTableOps(cio)
    val keep = cops.prunedFilesPushed(spark, dir, vs.last,
      ranges = Seq(("id", Some(100L), Some(200L))), eqs = Seq.empty)
    assert(keep.nonEmpty && keep.size <= 2)
    assert(cio.segReads.size == 2,
      s"pushed ranges must open only band 1: ${cio.segReads}")
  }

  test("string covers fold in UTF-8 order: a supplementary-plane max " +
      "is not narrowed by the UTF-16 fold (segment wrongly dropped)") {
    val dir = tmpDir("cov-utf8")
    // one clustered landing, two files: U+1F600 and U+E000. The segment
    // cover folds the per-file "s" bounds — a Java-order fold would
    // claim max = U+E000 and the probe below would drop the segment
    // UNREAD even though the emoji row matches.
    val df = Seq((1L, "😀"), (2L, "")).toDF("id", "s")
    val v = ops.commitClustered(df, dir, zCols = Seq("id"),
      statCols = Seq("id", "s"), numFiles = 2)
    val lo = ""
    val hi = "􏿿" // U+10FFFF
    val got = ops.prunedRead(spark, dir, "s", lo, hi, Some(v))
      .filter(col("s") >= lit(lo) && col("s") <= lit(hi)).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L),
      s"cover fold dropped the matching segment: ${got.mkString(",")}")
  }
}
