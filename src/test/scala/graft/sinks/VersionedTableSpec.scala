package graft.sinks

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Test-only delegating [[TableIO]] — lets a spec interpose on single
  * operations (e.g. fire a concurrent winner right before a publish
  * attempt) while every other call hits the real backend. */
class ForwardingTableIO(inner: TableIO) extends TableIO {
  override def mkdirs(dir: String): Unit = inner.mkdirs(dir)
  override def exists(path: String): Boolean = inner.exists(path)
  override def list(dir: String): Seq[String] = inner.list(dir)
  override def readLines(path: String): Seq[String] = inner.readLines(path)
  override def writeLines(path: String, lines: Seq[String]): Unit =
    inner.writeLines(path, lines)
  override def createExclusive(path: String, lines: Seq[String]): Boolean =
    inner.createExclusive(path, lines)
  override def delete(path: String): Unit = inner.delete(path)
  override def size(path: String): Long = inner.size(path)
  override def isDir(path: String): Boolean = inner.isDir(path)
  override def mtime(path: String): Long = inner.mtime(path)
}

/** The manifest-log protocol, asserted once and run against EVERY
  * [[TableIO]] backend ([[VersionedTableSpec]] = java.nio + hard links,
  * [[HadoopVersionedTableSpec]] = Hadoop FileSystem) — the storage seam
  * only earns its keep if the protocol's guarantees are backend-invariant. */
abstract class VersionedTableBehavior extends SparkSpec {
  import spark.implicits._

  def backend: TableIO
  lazy val ops = new VersionedTableOps(backend)

  test("tableProperties memoizes per chain head: repeat lookups over " +
      "an unchanged table cost ZERO line-reads, writers invalidate — the " +
      "optimizer-side IO guarantee (mview rewrite consults properties " +
      "per plan)") {
    val reads = new java.util.concurrent.atomic.AtomicLong
    val counting = new ForwardingTableIO(backend) {
      override def readLines(path: String): Seq[String] = {
        // the guarantee is "no per-plan GET" of a chain entry
        if (path.matches(".*/manifests/props/p\\d+"))
          reads.incrementAndGet()
        super.readLines(path)
      }
    }
    val o = new VersionedTableOps(counting)
    val dir = tmpDir("props-memo")
    assert(o.tableProperties(dir).isEmpty) // absent store: no read at all
    assert(reads.get() == 0)
    o.setTableProperty(dir, "a", "1")
    val r0 = reads.get()
    assert(o.tableProperties(dir) == Map("a" -> "1"))
    val afterMiss = reads.get()
    assert(afterMiss == r0 + 1, "first lookup is the one allowed read")
    (1 to 5).foreach(_ => assert(o.tableProperties(dir) == Map("a" -> "1")))
    assert(reads.get() == afterMiss,
      "repeat lookups over an unchanged table must be read-free")
    // a write invalidates eagerly — even inside mtime resolution the
    // next lookup serves the NEW map (with exactly one fresh read)
    o.setTableProperty(dir, "b", "2")
    val r1 = reads.get()
    assert(o.tableProperties(dir) == Map("a" -> "1", "b" -> "2"))
    assert(reads.get() == r1 + 1)
    assert(o.tableProperties(dir) == Map("a" -> "1", "b" -> "2"))
    assert(reads.get() == r1 + 1)
    o.removeTableProperty(dir, "a")
    assert(o.tableProperties(dir) == Map("b" -> "2"))
    // a FOREIGN writer (another ops over the same backend — a different
    // process in production) is caught by the head-index stamp alone
    new VersionedTableOps(counting).setTableProperty(dir, "c", "3")
    assert(o.tableProperties(dir) == Map("b" -> "2", "c" -> "3"),
      "stamp mismatch must refresh a foreign write")
  }

  test("a foreign SAME-SIZE rewrite inside the mtime resolution cannot " +
      "serve a stale memo: the chain head index advances on every " +
      "write, so the stamp always moves") {
    val o = new VersionedTableOps(backend)
    val dir = tmpDir("props-samesize")
    o.setTableProperty(dir, "a", "1")
    assert(o.tableProperties(dir) == Map("a" -> "1")) // memoize the stamp
    def head: Seq[String] =
      backend.list(s"$dir/manifests/props").sorted
    val before = head
    // a FOREIGN instance rewrites a=1 → a=2: identical byte count,
    // and fast enough to land within any mtime tick — the exact window
    // where a bare (mtime, size) stamp would serve the stale map forever
    new VersionedTableOps(backend).setTableProperty(dir, "a", "2")
    assert(head != before,
      "an equal-content-length rewrite must still advance the chain")
    assert(o.tableProperties(dir) == Map("a" -> "2"),
      "a same-size foreign rewrite must not serve the stale memo")
    // no `#` header line leaks into the parsed map
    assert(!o.tableProperties(dir).keySet.exists(_.startsWith("#")))
  }

  test("io contract: createExclusive is first-wins, content is complete") {
    val dir = tmpDir("io-contract")
    assert(backend.createExclusive(s"$dir/m/one", Seq("a", "b")))
    assert(!backend.createExclusive(s"$dir/m/one", Seq("CLOBBER")))
    assert(backend.readLines(s"$dir/m/one") == Seq("a", "b")) // winner intact
    assert(backend.list(s"$dir/m") == Seq("one"))
    assert(backend.size(s"$dir/m/one") > 0)
    backend.delete(s"$dir/m/one")
    assert(!backend.exists(s"$dir/m/one"))
    backend.delete(s"$dir/m/one") // missing -> no-op, not an error
    assert(backend.list(s"$dir/nope").isEmpty)
  }

  test("append commits build a version history; time travel reads each") {
    val dir = tmpDir("vt-hist")
    val v1 = ops.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), dir)
    val v2 = ops.commit(Seq((3L, "c")).toDF("id", "k"), dir)
    assert(ops.versions(dir) == Seq(v1, v2))
    assert(ops.read(spark, dir, Some(v1)).count() == 2)
    assert(ops.read(spark, dir, Some(v2)).count() == 3)
    assert(ops.read(spark, dir).count() == 3) // head
  }

  test("snapshot isolation: a resolved reader is immune to later commits") {
    val dir = tmpDir("vt-iso")
    ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    val pinned = ops.read(spark, dir) // resolved at v1
    ops.commit(Seq((2L, "b")).toDF("id", "k"), dir)
    ops.commit(Seq((3L, "c")).toDF("id", "k"), dir,
      append = false) // logical overwrite
    assert(pinned.count() == 1) // still exactly the v1 snapshot
  }

  test("logical overwrite replaces content; history keeps the old files") {
    val dir = tmpDir("vt-ovw")
    val v1 = ops.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), dir)
    val v2 = ops.commit(Seq((9L, "z")).toDF("id", "k"), dir, append = false)
    assert(ops.read(spark, dir, Some(v2))
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(ops.read(spark, dir, Some(v1)).count() == 2)
  }

  test("rollback restores an old file set as a NEW inspectable version") {
    val dir = tmpDir("vt-rb")
    val v1 = ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    val v2 = ops.commit(Seq((2L, "BAD")).toDF("id", "k"), dir)
    val v3 = ops.rollback(dir, v1)
    assert(v3 > v2)
    assert(ops.read(spark, dir).count() == 1) // head == v1 content
    assert(ops.read(spark, dir, Some(v2)).count() == 2) // bad kept
  }

  test("expire drops old manifests and unreferenced files, keeps live reads") {
    val dir = tmpDir("vt-gc")
    val v1 = ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    ops.commit(Seq((2L, "b")).toDF("id", "k"), dir)
    val v3 = ops.commit(Seq((9L, "z")).toDF("id", "k"), dir,
      append = false) // v3 drops v1/v2's files from the live set
    val deleted = ops.expire(dir, keepLast = 1)
    assert(deleted > 0) // v1/v2's data files were referenced only by them
    assert(ops.versions(dir) == Seq(v3))
    assert(ops.read(spark, dir).count() == 1) // head intact
    intercept[IllegalArgumentException] {
      ops.read(spark, dir, Some(v1)) // expired → loud
    }
  }

  test("expire keeps files still referenced by a retained manifest") {
    val dir = tmpDir("vt-gc2")
    ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    val v2 = ops.commit(Seq((2L, "b")).toDF("id", "k"), dir)
    // v2 (append) references v1's files too — expiring v1 must delete NO
    // data files, only the manifest
    val deleted = ops.expire(dir, keepLast = 1)
    assert(deleted == 0)
    assert(ops.read(spark, dir, Some(v2)).count() == 2)
  }

  test("manifest stats prune files; results equal the unpruned read") {
    val dir = tmpDir("vt-stats")
    // three commits with DISJOINT value ranges — each lands its own files
    ops.commit((1 to 100).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v"), dir)
    ops.commit((101 to 200).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v"), dir)
    val head = ops.commit(
      (201 to 300).map(i => (i.toLong, i.toDouble)).toDF("id", "v"), dir)
    ops.writeStats(spark, dir, head, Seq("v"))
    val all = ops.prunedFiles(dir, head, "v", 0.0, 1e9)
    val narrow = ops.prunedFiles(dir, head, "v", 150.0, 160.0)
    assert(narrow.nonEmpty && narrow.size < all.size,
      s"no pruning: ${narrow.size} of ${all.size}")
    // correctness: pruned read + exact predicate == full read + predicate
    val pruned = ops.prunedRead(spark, dir, "v", 150.0, 160.0)
      .filter($"v".between(150.0, 160.0))
    val full = ops.read(spark, dir)
      .filter($"v".between(150.0, 160.0))
    assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
    assert(pruned.count() == 11)
  }

  test("string range pruning compares in UTF-8 byte order (Spark's " +
      "collation), not UTF-16: supplementary-plane rows survive") {
    val dir = tmpDir("vt-utf8prune")
    // U+1F600 sorts BELOW U+E000 in Java's UTF-16 order but ABOVE it in
    // UTF-8 (= Spark's UTF8String order, which computed the stored
    // bounds) — a UTF-16 boundGeq would prune the emoji file for this
    // range even though its only row matches the predicate
    ops.commit(Seq((1L, "😀")).toDF("id", "s"), dir) // U+1F600
    val head = ops.commit(Seq((2L, "ascii")).toDF("id", "s"), dir)
    ops.writeStats(spark, dir, head, Seq("s"))
    val lo = ""
    val hi = "􏿿" // U+10FFFF
    val kept = ops.prunedFiles(dir, head, "s", lo, hi)
    assert(kept.size == 1, s"expected only the emoji file kept: $kept")
    val got = ops.prunedRead(spark, dir, "s", lo, hi)
      .filter($"s" >= lit(lo) && $"s" <= lit(hi)).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L),
      s"supplementary-plane row wrongly pruned: ${got.mkString(",")}")
  }

  test("typed stats: date and string pruning; null-only files always kept") {
    val dir = tmpDir("vt-typed")
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // three commits with disjoint date/string ranges; the last one's
    // metric column is ALL NULL — its files must never be pruned on it
    ops.commit(Seq((d("2024-01-01"), "apple", Option(1.0)),
      (d("2024-01-31"), "banana", Option(2.0))).toDF("day", "name", "v"), dir)
    ops.commit(Seq((d("2024-02-01"), "mango", Option(3.0)),
      (d("2024-02-28"), "peach", Option(4.0))).toDF("day", "name", "v"), dir)
    val head = ops.commit(Seq((d("2024-03-05"), "zebra",
      Option.empty[Double])).toDF("day", "name", "v"), dir)
    ops.writeStats(spark, dir, head, Seq("day", "name", "v"))
    val all = ops.prunedFiles(dir, head, "day",
      d("2000-01-01"), d("2100-01-01"))
    // DATE pruning: only February's files survive a February range
    val feb = ops.prunedFiles(dir, head, "day",
      d("2024-02-01"), d("2024-02-15"))
    assert(feb.nonEmpty && feb.size < all.size,
      s"date pruning dead: ${feb.size}/${all.size}")
    // STRING pruning: lexical range [mango, peach] keeps the middle commit
    val mid = ops.prunedFiles(dir, head, "name", "mango", "peach")
    assert(mid.nonEmpty && mid.size < all.size,
      s"string pruning dead: ${mid.size}/${all.size}")
    // null-only files: the head commit's files carry a "null" tag for v
    // and survive a range that excludes every non-null value
    val vFiles = ops.prunedFiles(dir, head, "v", 100.0, 200.0)
    val newFiles = all.toSet -- ops.prunedFiles(dir, head - 1, "day",
      d("2000-01-01"), d("2100-01-01")).toSet
    assert(newFiles.nonEmpty && newFiles.subsetOf(vFiles.toSet),
      "all-null file was pruned — superset guarantee broken")
    // correctness parity: pruned read + exact predicate == full read
    import spark.implicits._
    val pruned = ops.prunedRead(spark, dir, "name", "mango", "peach")
      .filter($"name" >= "mango" && $"name" <= "peach")
    val full = ops.read(spark, dir)
      .filter($"name" >= "mango" && $"name" <= "peach")
    assert(pruned.except(full).isEmpty && full.except(pruned).isEmpty)
    assert(pruned.count() == 2)
    // mismatched bound type (string range on a date column) -> no pruning,
    // never an exception or a lost file
    assert(ops.prunedFiles(dir, head, "day", "a", "z").size == all.size)
  }

  test("string pruning survives URL-encoding-hostile values") {
    // URL-encoding is not order-preserving (' ' sorts below '+', '%' maps
    // to %25): comparing a decoded stored bound against an encoded query
    // bound wrongly prunes a file containing the probed string. Each
    // probe-for-own-value below must keep the file that holds it.
    val dir = tmpDir("vt-strenc")
    val hostile = Seq("a b", "100% done", "a+b", "café ☕", "x&y=z")
    hostile.zipWithIndex.foreach { case (s, i) =>
      ops.commit(Seq((i.toLong, s)).toDF("id", "name").coalesce(1), dir)
    }
    val head = ops.versions(dir).last
    ops.writeStats(spark, dir, head, Seq("name"))
    hostile.foreach { s =>
      val got = ops.prunedRead(spark, dir, "name", s, s)
        .filter($"name" === s).as[(Long, String)].collect()
      assert(got.map(_._2).toSeq == Seq(s),
        s"probe for '$s' lost its own row — encoding broke bound ordering")
    }
    // and pruning still prunes: a single-point probe keeps < all files
    val all = ops.prunedFiles(dir, head, "name", "", "￿￿")
    assert(ops.prunedFiles(dir, head, "name", "a b", "a b").size < all.size)
  }

  test("a version without stats degrades to no pruning, never to loss") {
    val dir = tmpDir("vt-nostats")
    ops.commit((1 to 50).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v"), dir)
    // no writeStats call — prunedRead must keep every file
    val r = ops.prunedRead(spark, dir, "v", 10.0, 20.0)
    assert(r.count() == 50)
  }

  test("expire removes dead versions' stats files too") {
    val dir = tmpDir("vt-gc-stats")
    val v1 = ops.commit(Seq((1L, 1.0)).toDF("id", "v"), dir)
    ops.writeStats(spark, dir, v1, Seq("v"))
    ops.commit(Seq((2L, 2.0)).toDF("id", "v"), dir, append = false)
    ops.expire(dir, keepLast = 1)
    assert(!backend.exists(s"$dir/manifests/s$v1"))
  }

  test("readAsOf resolves by commit wall clock (injected, no sleeps)") {
    val dir = tmpDir("vt-asof")
    import spark.implicits._
    // deterministic clock: commits stamp exactly what the test dials in
    val clocked = new VersionedTableOps(backend) {
      var t = 0L
      override protected def now(): Long = t
    }
    clocked.t = 1000L
    clocked.commit(Seq((1L, "a")).toDF("id", "k"), dir) // v1 @ 1000
    clocked.t = 2000L
    clocked.commit(Seq((2L, "b")).toDF("id", "k"), dir) // v2 @ 2000
    clocked.t = 3000L
    clocked.commit(Seq((9L, "z")).toDF("id", "k"), dir,
      append = false) // v3 @ 3000 (overwrite)
    assert(clocked.readAsOf(spark, dir, 1500L).count() == 1) // v1
    assert(clocked.readAsOf(spark, dir, 2000L).count() == 2) // v2 (<=)
    assert(clocked.readAsOf(spark, dir, 9999L).count() == 1) // head v3
    intercept[IllegalArgumentException] {
      clocked.readAsOf(spark, dir, 999L) // before the first commit
    }
    // rollback and compact stamp their own clock: as-of after the
    // rollback instant resolves to the restored state
    clocked.t = 4000L
    clocked.rollback(dir, 2)
    assert(clocked.readAsOf(spark, dir, 3500L).count() == 1) // still v3
    assert(clocked.readAsOf(spark, dir, 4000L).count() == 2) // rolled back
  }

  test("expireBefore keeps versions stamped at/after the instant; " +
    "versionAtOrAfter is the streaming twin of versionAt") {
    val dir = tmpDir("vt-expbefore")
    import spark.implicits._
    val clocked = new VersionedTableOps(backend) {
      var t = 0L
      override protected def now(): Long = t
    }
    clocked.t = 1000L
    clocked.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    clocked.t = 2000L
    clocked.commit(Seq((2L, "b")).toDF("id", "k"), dir)
    clocked.t = 3000L
    clocked.commit(Seq((3L, "c")).toDF("id", "k"), dir)
    assert(clocked.versionAtOrAfter(dir, 1500L).contains(2))
    assert(clocked.versionAtOrAfter(dir, 3000L).contains(3))
    assert(clocked.versionAtOrAfter(dir, 3001L).isEmpty,
      "an instant past every commit has no at-or-after version")
    clocked.expireBefore(dir, 2000L)
    assert(clocked.versions(dir) == Seq(2, 3),
      "expireBefore must keep exactly the at-or-after versions")
    assert(clocked.read(spark, dir).count() == 3,
      "the head still serves every live row")
    // an instant past everything keeps at least the head
    clocked.expireBefore(dir, 9999L)
    assert(clocked.versions(dir) == Seq(3))
  }

  test("readChanges returns exactly the appended rows; loud off appends") {
    val dir = tmpDir("vt-changes")
    import spark.implicits._
    val v1 = ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    val v2 = ops.commit(Seq((2L, "b"), (3L, "c")).toDF("id", "k"), dir)
    val v3 = ops.commit(Seq((4L, "d")).toDF("id", "k"), dir)
    assert(ops.readChanges(spark, dir, v1, v3).as[(Long, String)]
      .collect().toSet == Set((2L, "b"), (3L, "c"), (4L, "d")))
    assert(ops.readChanges(spark, dir, v2, v3).as[(Long, String)]
      .collect().toSet == Set((4L, "d")))
    assert(ops.readChanges(spark, dir, v3, v3).count() == 0) // empty range
    // a compaction (file removal) in range must fail loudly, not return
    // rewritten old rows as "new"
    val v4 = ops.compact(spark, dir, targetBytes = 1L << 30)
    assert(v4 > v3)
    intercept[IllegalArgumentException] {
      ops.readChanges(spark, dir, v3, v4)
    }
    // and a fresh append AFTER the compaction is incremental again
    val v5 = ops.commit(Seq((5L, "e")).toDF("id", "k"), dir)
    assert(ops.readChanges(spark, dir, v4, v5).as[(Long, String)]
      .collect().toSet == Set((5L, "e")))
  }

  test("history exposes the commit log: version, stamp, files, txn") {
    val dir = tmpDir("vt-history")
    import spark.implicits._
    val clocked = new VersionedTableOps(backend) {
      var t = 0L
      override protected def now(): Long = t
    }
    clocked.t = 1000L
    clocked.commit(Seq((1L, "a")).toDF("id", "k").coalesce(1), dir)
    clocked.t = 2000L
    clocked.commitOnce(Seq((2L, "b")).toDF("id", "k").coalesce(1), dir,
      "q:0")
    val h = clocked.history(spark, dir)
      .as[(Int, Option[Long], Long, Long, Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(h == Seq(
      (1, Some(1000L), 1L, 0L, None),
      (2, Some(2000L), 2L, 0L, Some("q:0"))))
  }

  test("dim-driven pruning: the fact scan shrinks to the dim's key range") {
    val dir = tmpDir("vt-dimprune")
    import spark.implicits._
    // fact landing clustered on the join key
    val fact = spark.range(0, 30000)
      .select(col("id").as("k"), (col("id") % 97).as("payload"))
    ops.commitClustered(fact, dir, zCols = Seq("k"), statCols = Seq("k"),
      numFiles = 16)
    val head = ops.versions(dir).last
    val all = ops.prunedFiles(dir, head, "k", Long.MinValue, Long.MaxValue)
    // a filtered dimension touching only a narrow key band
    val dim = spark.range(0, 30000).select(col("id").as("k"))
      .filter(col("k").between(1000, 2500))
    // the dim's key range bounds the fact's pruned read
    val r = dim.agg(min(col("k")), max(col("k"))).head()
    val prunedScan = ops.prunedRead(spark, dir, "k", r.get(0), r.get(1))
    val scanned = prunedScan.inputFiles.length
    assert(scanned < all.size, s"no dim pruning: $scanned of ${all.size}")
    // join parity: pruned fact ⋈ dim == full fact ⋈ dim
    val viaPruned = prunedScan.join(dim, "k")
    val viaFull = ops.read(spark, dir).join(dim, "k")
    assert(viaPruned.count() == 1501 &&
      viaFull.count() == viaPruned.count())
  }

  test("conjunctive pruning: a 2-D box skips what either axis alone keeps") {
    val dir = tmpDir("vt-multi")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).cast("double").as("x"),
        pmod(xxhash64(col("id"), lit(2)), lit(1000)).cast("double").as("y"))
    val head = ops.commitClustered(batch(0, 30000), dir,
      zCols = Seq("x", "y"), statCols = Seq("x", "y"), numFiles = 16)
    def pruned(ranges: (String, Double, Double)*): Seq[String] =
      ops.prunedFilesPushed(spark, dir, head,
        ranges.map { case (c, lo, hi) => (c, Some(lo), Some(hi)) }, Nil)
    val all = pruned()
    val xOnly = pruned(("x", 100.0, 299.0))
    val box = pruned(("x", 100.0, 299.0), ("y", 100.0, 299.0))
    assert(all.size == 16)
    assert(xOnly.size < all.size)
    assert(box.size < xOnly.size,
      s"y-axis added no pruning: box=${box.size} x-only=${xOnly.size}")
    // soundness against the unpruned read: every row inside the box
    // lives in a file the box keeps
    import spark.implicits._
    val cond = $"x".between(100.0, 299.0) && $"y".between(100.0, 299.0)
    val hit = ops.read(spark, dir).filter(cond)
      .select(input_file_name()).distinct().as[String].collect()
      .map(f => new java.net.URI(f).getPath).toSet
    assert(hit.nonEmpty && hit.subsetOf(box.toSet),
      s"box pruned a matching file: ${hit -- box}")
  }

  test("compact bin-packs small files into a new snapshot; history intact") {
    val dir = tmpDir("vt-compact")
    import spark.implicits._
    // six streaming-style exactly-once micro-batches, one small file each
    (0 until 6).foreach { b =>
      ops.commitOnce(Seq.tabulate(10)(i => (b * 10L + i, s"r$b-$i"))
        .toDF("id", "k").coalesce(1), dir, s"q:$b")
    }
    val before = ops.versions(dir).last
    val filesBefore = ops.prunedFiles(dir, before, "id", 0L, Long.MaxValue)
    assert(filesBefore.size == 6)
    val v = ops.compact(spark, dir, targetBytes = 1L << 20)
    assert(v == before + 1)
    val filesAfter = ops.prunedFiles(dir, v, "id", 0L, Long.MaxValue)
    assert(filesAfter.size == 1, s"bin-pack left ${filesAfter.size} files")
    // identical rows, head and pinned history both readable
    assert(ops.read(spark, dir).as[(Long, String)].collect().sorted.toSeq ==
      (0 until 6).flatMap(b => Seq.tabulate(10)(i => (b * 10L + i, s"r$b-$i")))
        .sorted)
    assert(ops.read(spark, dir, Some(before)).count() == 60)
    // the head's txn id rode into the compacted manifest
    assert(ops.committedTxns(dir).contains("q:5"))
    // nothing-to-do: a second compact returns the head unchanged
    assert(ops.compact(spark, dir, 1L << 20) == v)
    // expire GCs the six small files AND their emptied batch directories
    val deleted = ops.expire(dir, keepLast = 1)
    assert(deleted == 6)
    assert(ops.read(spark, dir).count() == 60)
    assert(backend.list(s"$dir/data").size == 1,
      s"emptied batch dirs left behind: ${backend.list(s"$dir/data")}")
  }

  test("compact carries stats for kept files and scans only the rewrite") {
    val dir = tmpDir("vt-compact-stats")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id"), col("id").cast("double").as("x"))
    // one big clustered commit (files near target) + tiny appends
    ops.commitClustered(batch(0, 20000), dir, zCols = Seq("x"),
      statCols = Seq("x"), numFiles = 4)
    ops.commitClustered(batch(20000, 20050), dir, zCols = Seq("x"),
      statCols = Seq("x"), numFiles = 2)
    val head0 = ops.versions(dir).last
    val all0 = ops.prunedFiles(dir, head0, "x", -1e18, 1e18)
    assert(all0.size == 6)
    // Identify the tiny append's files STRUCTURALLY (the version diff),
    // not by guessing a size cut — both the (min+max)/2 midpoint (a
    // range-skewed big file can dip below it) and "just above the
    // second-smallest" (then the tiny pair doesn't FIT one target-sized
    // output and packs into two) failed as flakes. Target = the smallest
    // big file: every big file is kept (>= target), every tiny file is
    // caught, and the tiny total fits one output bin.
    val v1Files = ops.prunedFiles(dir, ops.versions(dir).head,
      "x", -1e18, 1e18).toSet
    val bigMin = v1Files.toSeq.map(backend.size).min
    val tinyTotal = (all0.toSet -- v1Files).toSeq.map(backend.size).sum
    assert(tinyTotal < bigMin,
      s"degenerate fixture: tiny append ($tinyTotal B) not below the " +
        s"smallest clustered file ($bigMin B)")
    val v = ops.compact(spark, dir, targetBytes = bigMin)
    val after = ops.prunedFiles(dir, v, "x", -1e18, 1e18)
    assert(after.size == 5, s"expected 4 kept + 1 packed, got ${after.size}")
    // every live file still has stats: a narrow range prunes, a wide one
    // keeps all — no file lost its line in the swap
    assert(ops.prunedFiles(dir, v, "x", 0.0, 100.0).size < after.size)
    val parity = ops.prunedRead(spark, dir, "x", 19990.0, 20010.0)
      .filter(col("x").between(19990.0, 20010.0)).count()
    assert(parity == 21)
  }

  test("compactWhere rewrites only the predicate-admitted slice; files " +
      "outside the scope ride untouched and deletes split correctly") {
    val dir = tmpDir("vt-compact-where")
    import spark.implicits._
    // three disjoint key bands, two small files each — time-ordered
    // ingest's natural shape, where only the hot band needs maintenance
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      (0 until 2).foreach { h =>
        ops.commit(spark.range(lo, hi).filter(col("id") % 2 === h)
          .select(col("id"), col("id").cast("double").as("v"))
          .coalesce(1), dir)
      }
    }
    val head = ops.versions(dir).last
    ops.writeStats(spark, dir, head, Seq("id"))
    val before = ops.prunedFiles(dir, head, "id", 0L, 300L)
    assert(before.size == 6)
    // debt on BOTH sides of the scope boundary: the in-scope vector must
    // materialize into the rewrite, the out-of-scope one must survive
    ops.deleteWhere(spark, dir, col("id") === 150L)
    ops.deleteWhere(spark, dir, col("id") === 250L)
    val admitted = ops.prunedFilesPushed(spark, dir, ops.versions(dir).last,
      Seq(("id", Some(100L), Some(199L))), Nil).toSet
    assert(admitted.size == 2, s"scope admission wrong: $admitted")
    val v = ops.compactWhere(spark, dir, Seq(("id", 100L, 199L)),
      targetBytes = 1L << 20)
    val after = ops.prunedFiles(dir, v, "id", 0L, 300L)
    assert(after.size == 5, s"expected 4 kept + 1 packed: ${after.size}")
    // every file OUTSIDE the scope is the same path — untouched on disk
    assert(after.toSet.intersect(before.toSet) == before.toSet -- admitted,
      "out-of-scope files were rewritten")
    // both deletes still apply: the in-scope one was materialized into
    // the rewrite, the out-of-scope one rides as a live vector
    assert(ops.read(spark, dir).count() == 298)
    assert(ops.read(spark, dir).filter(col("id").isin(150L, 250L)).count()
      == 0)
    // stats carried + collected: the scope still prunes to single files
    assert(ops.prunedFiles(dir, v, "id", 20L, 30L).size == 2) // band 0 pair
    // nothing-to-do: a second scoped pass returns the head unchanged
    assert(ops.compactWhere(spark, dir, Seq(("id", 100L, 199L)),
      1L << 20) == ops.versions(dir).last)
    // pinned pre-compact version still reads (logical rewrite)
    assert(ops.read(spark, dir, Some(head)).count() == 300)
  }

  test("compactWhere refuses a degenerate scope loudly: no stats, " +
      "mismatched bound family, or unencodable bounds") {
    val dir = tmpDir("vt-cw-refuse")
    ops.commit(spark.range(0, 10).select(col("id")), dir)
    // no range stats at all -> the scope would admit the whole table
    val e1 = intercept[IllegalArgumentException] {
      ops.compactWhere(spark, dir, Seq(("id", 0L, 5L)), 1L << 20)
    }
    assert(e1.getMessage.contains("no range stats"))
    ops.writeStats(spark, dir, ops.versions(dir).last, Seq("id"))
    // string bounds against a numeric column's stats admit everything
    val e2 = intercept[IllegalArgumentException] {
      ops.compactWhere(spark, dir, Seq(("id", "a", "z")), 1L << 20)
    }
    assert(e2.getMessage.contains("mismatched") ||
      e2.getMessage.contains("stats are"))
    // NaN has no stats encoding at all
    intercept[IllegalArgumentException] {
      ops.compactWhere(spark, dir, Seq(("id", Double.NaN, 5.0)), 1L << 20)
    }
    // ...and a well-typed scope still works after the refusals
    assert(ops.compactWhere(spark, dir, Seq(("id", 0L, 5L)), 1L << 20)
      == ops.versions(dir).last)
  }

  test("compact can add stats to a landing that never collected them") {
    val dir = tmpDir("vt-compact-addstats")
    import spark.implicits._
    // two fat commits (stay put) + three tiny streaming batches (pack);
    // nobody ever wrote stats — the commitOnce path doesn't collect them
    ops.commit(spark.range(0, 30000)
      .select(col("id"), col("id").cast("double").as("v"))
      .repartition(1), dir)
    ops.commit(spark.range(30000, 60000)
      .select(col("id"), col("id").cast("double").as("v"))
      .repartition(1), dir)
    (0 until 3).foreach { b =>
      ops.commitOnce(Seq((100000L + b, 1e9 + b)).toDF("id", "v")
        .coalesce(1), dir, s"q:$b")
    }
    val head = ops.versions(dir).last
    val all = ops.prunedFiles(dir, head, "v", 0.0, 1.0)
    assert(all.size == 5) // no stats anywhere -> nothing prunes
    val fatMin = ops.prunedFiles(dir, 2, "v", -1e18, 1e18)
      .map(backend.size).min
    val v = ops.compact(spark, dir, targetBytes = fatMin,
      statCols = Seq("v"))
    // the packed file now carries stats (v in [1e9, 1e9+2]): a range that
    // misses it prunes it, while the stats-less fat files stay (superset)
    val low = ops.prunedFiles(dir, v, "v", 0.0, 100.0)
    assert(low.size == 2, s"packed file not pruned: ${low.size} of 3")
    assert(ops.prunedFiles(dir, v, "v", 1e9, 2e9).size == 3)
  }

  test("expire refuses to cut below the txn replay horizon") {
    val dir = tmpDir("vt-horizon")
    import spark.implicits._
    (0 until 3).foreach { b =>
      ops.commitOnce(Seq((b.toLong, "x")).toDF("id", "k"), dir, s"q:$b")
    }
    intercept[IllegalArgumentException] {
      ops.expire(dir, keepLast = 1, txnReplayHorizon = 2)
    }
    assert(ops.versions(dir).size == 3) // refused -> nothing expired
    ops.expire(dir, keepLast = 2, txnReplayHorizon = 2)
    assert(ops.versions(dir).size == 2)
  }

  test("optimistic concurrency: a colliding publish retries above the winner") {
    val dir = tmpDir("vt-occ")
    val v1 = ops.commit(Seq((1L, "a")).toDF("id", "k"), dir)
    // a fixed-list publish (rollback shape) that targets the ALREADY-TAKEN
    // v1 must land above it without touching the winner's manifest
    val winner = backend.readLines(s"$dir/manifests/v$v1")
    val v = ops.publish(dir, v1, Seq.empty)
    assert(v == v1 + 1)
    assert(backend.readLines(s"$dir/manifests/v$v1") == winner)
    assert(ops.versions(dir) == Seq(v1, v))
  }

  test("OCC merge: a losing append's retry carries the winner's files") {
    val dir = tmpDir("vt-occ-merge")
    ops.commit(Seq((1L, "base")).toDF("id", "k"), dir) // v1
    // interpose: the instant the "loser" tries to publish v2, a concurrent
    // winner lands v2 first — the loser's attempt must fail, re-resolve,
    // and republish the WINNER's file list plus its own (the bug class:
    // republishing the stale base silently drops the winner's rows, and
    // expire then deletes them)
    @volatile var fired = false
    val racing = new ForwardingTableIO(backend) {
      override def createExclusive(path: String,
                                   lines: Seq[String]): Boolean = {
        if (!fired && path.endsWith("/v2")) {
          fired = true
          ops.commit(Seq((2L, "winner")).toDF("id", "k"), dir)
        }
        super.createExclusive(path, lines)
      }
    }
    val loser = new VersionedTableOps(racing)
    val v = loser.commit(Seq((3L, "loser")).toDF("id", "k"), dir)
    assert(fired)
    assert(v == 3) // lost v2, landed v3
    // the head lineage contains ALL three commits' rows
    assert(ops.read(spark, dir).as[(Long, String)].collect().toMap ==
      Map(1L -> "base", 2L -> "winner", 3L -> "loser"))
    // and expire keeps every row reachable from the head
    ops.expire(dir, keepLast = 1)
    assert(ops.read(spark, dir).count() == 3)
  }

  test("OCC merge under clustered commits: stats carry from the real head") {
    val dir = tmpDir("vt-occ-clustered")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id"), col("id").cast("double").as("x"))
    ops.commitClustered(batch(0, 1000), dir, zCols = Seq("x"),
      statCols = Seq("x"), numFiles = 2) // v1
    @volatile var fired = false
    val racing = new ForwardingTableIO(backend) {
      override def createExclusive(path: String,
                                   lines: Seq[String]): Boolean = {
        if (!fired && path.endsWith("/v2")) {
          fired = true
          ops.commitClustered(batch(1000, 2000), dir, zCols = Seq("x"),
            statCols = Seq("x"), numFiles = 2) // winner's v2
        }
        super.createExclusive(path, lines)
      }
    }
    val loser = new VersionedTableOps(racing)
    val v = loser.commitClustered(batch(2000, 3000), dir, zCols = Seq("x"),
      statCols = Seq("x"), numFiles = 2)
    assert(v == 3)
    assert(ops.read(spark, dir).count() == 3000) // no rows dropped
    // stats at v3 cover every live file: winner's files carried through
    // the retry, so pruning stays a superset guarantee, and a wide-open
    // range keeps all files
    val allFiles = ops.prunedFiles(dir, v, "x", -1e18, 1e18)
    val pruned = ops.prunedFiles(dir, v, "x", 0.0, 10.0)
    assert(allFiles.size == 6)
    assert(pruned.size < allFiles.size, "stats missing for merged files")
  }
}

/** Local backend: java.nio + hard-link create-if-absent. */
class VersionedTableSpec extends VersionedTableBehavior {
  override def backend: TableIO = TableIO.local

  test("clustered commit: z-order + stats makes pruning bite; carry-forward") {
    val dir = tmpDir("vt-clustered")
    def batch(lo: Int, hi: Int) = spark.range(lo, hi)
      .select(col("id"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000)).cast("double").as("x"),
        pmod(xxhash64(col("id"), lit(2)), lit(1000)).cast("double").as("y"))
    val v1 = VersionedTable.commitClustered(batch(0, 30000), dir,
      zCols = Seq("x", "y"), statCols = Seq("x", "y"), numFiles = 16)
    // pruning bites on BOTH z-dims thanks to the layout
    val all = VersionedTable.prunedFiles(dir, v1, "x", -1e9, 1e9)
    val nx = VersionedTable.prunedFiles(dir, v1, "x", 100.0, 199.0)
    val ny = VersionedTable.prunedFiles(dir, v1, "y", 100.0, 199.0)
    // <= half, not < half: a 10% slice keeps 6-8 of 16 files depending
    // on where quantile boundaries landed that run — the guarantee of
    // the 6-bit layout is "at most half for a one-decile slice"
    assert(all.size == 16)
    assert(nx.size <= all.size / 2, s"x pruning weak: ${nx.size}/${all.size}")
    assert(ny.size <= all.size / 2, s"y pruning weak: ${ny.size}/${all.size}")
    // pruned read correctness
    import spark.implicits._
    val pruned = VersionedTable.prunedRead(spark, dir, "x", 100.0, 199.0)
      .filter($"x".between(100.0, 199.0))
    val full = VersionedTable.read(spark, dir)
      .filter($"x".between(100.0, 199.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // second clustered commit: v1's stats lines carry forward verbatim
    val s1 = VersionedTable.sidecarLines(dir, v1)
    val v2 = VersionedTable.commitClustered(batch(30000, 40000), dir,
      zCols = Seq("x", "y"), statCols = Seq("x", "y"), numFiles = 8)
    val s2 = VersionedTable.sidecarLines(dir, v2)
    assert(s1.forall(s2.contains), "carried stats lines missing")
    // + files × (cols + the per-file `rows` metadata line) new lines —
    // CBO sketch lines land only via writeStats or the stats.cbo opt-in
    assert(s2.size == s1.size + 8 * (2 + 1))
  }
}

/** Hadoop FileSystem backend (local file:// here; HDFS in a real landing —
  * see [[HadoopTableIO]] for the per-backend atomicity notes). */
class HadoopVersionedTableSpec extends VersionedTableBehavior {
  override lazy val backend: TableIO =
    new HadoopTableIO(spark.sessionState.newHadoopConf())
}
