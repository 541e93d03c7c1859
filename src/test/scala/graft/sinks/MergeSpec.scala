package graft.sinks

import org.apache.spark.sql.functions._

import graft.{Profile, SparkSpec}

/** Copy-on-write MERGE on the versioned table. The property under test
  * throughout: the rewrite set is exactly the files that CONTAIN a matched
  * key — at 100 TB, merge cost must scale with the CDC batch's key
  * locality, not the table, so every untouched file must survive
  * byte-identical (same path, same bytes, never re-written). */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private val backend: TableIO = TableIO.local
  private lazy val ops = new VersionedTableOps(backend)

  private def manifestFiles(dir: String, v: Int): Seq[String] =
    ops.manifestLines(dir, v)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  private def delFiles(dir: String, v: Int): Seq[String] =
    backend.readLines(s"$dir/manifests/v$v")
      .collect { case l if l.startsWith("#del=") => l.drop(5) }

  private def table(lo: Long, hi: Long) = spark.range(lo, hi)
    .select(col("id"), (col("id") * 2).as("payload"))

  test("merge rewrites only the files that contain matched keys") {
    val dir = tmpDir("mg-scoped")
    ops.commitClustered(table(0, 10000), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 8) // v1
    val before = manifestFiles(dir, 1)
    val sizes = before.map(f => f -> backend.size(f)).toMap
    // updates confined to ids [0, 50) — one file's range — plus inserts
    // far past the max id
    val src = spark.range(0, 50)
      .select(col("id"), (col("id") * 100).as("payload"))
      .unionByName(spark.range(20000, 20010)
        .select(col("id"), (col("id") * 2).as("payload")))
    val v2 = ops.merge(spark, dir, src, "id")
    val after = manifestFiles(dir, v2)
    // exactly one original file was rewritten; the other seven survive
    // as the SAME paths with the SAME bytes
    val kept = before.filter(after.contains)
    assert(kept.size == before.size - 1,
      s"expected 1 rewritten file, got ${before.size - kept.size}")
    assert(kept.forall(f => backend.size(f) == sizes(f)))
    // content: updates applied, inserts present, nothing lost
    val got = ops.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got.size == 10010)
    assert((0L until 50L).forall(i => got(i) == i * 100))
    assert((50L until 10000L).forall(i => got(i) == i * 2))
    assert((20000L until 20010L).forall(i => got(i) == i * 2))
    // stats carried + new file scanned: pruning still bites at the head
    val all = ops.prunedFiles(dir, v2, "id", Long.MinValue, Long.MaxValue)
    val band = ops.prunedFiles(dir, v2, "id", 5000L, 5100L)
    assert(band.size < all.size, "manifest stats lost across a merge")
  }

  test("a no-match merge lands pure inserts and rewrites nothing") {
    val dir = tmpDir("mg-insert")
    ops.commitClustered(table(0, 1000), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 4)
    val before = manifestFiles(dir, 1)
    val v2 = ops.merge(spark, dir,
      spark.range(5000, 5100).select(col("id"),
        (col("id") * 2).as("payload")), "id")
    val after = manifestFiles(dir, v2)
    assert(before.forall(after.contains), "an untouched file was dropped")
    assert(after.size == before.size + 1)
    assert(ops.read(spark, dir).count() == 1100)
  }

  test("duplicate source keys fail loudly, before anything is written") {
    val dir = tmpDir("mg-dupes")
    ops.commit(table(0, 100), dir)
    val src = Seq((1L, 10L), (1L, 20L)).toDF("id", "payload")
    // every merge entry point refuses through the one validation pass
    val messages = Seq[() => Int](
      () => ops.merge(spark, dir, src, "id"),
      () => ops.mergeChanges(spark, dir, src.withColumn("op", lit("u")),
        "id"),
      () => ops.mergeInto(spark, dir, src, "id", "id",
        matched = Seq(MergeClause(None,
          MergeUpdate(Map("payload" -> col("__s_payload"))))),
        notMatched = Seq.empty)
    ).map(m => intercept[IllegalArgumentException](m()).getMessage)
    assert(messages.head.contains("duplicate"))
    assert(messages.distinct.size == 1, messages)
    assert(ops.versions(dir) == Seq(1))
  }

  test("merge runs no more Spark jobs than mergeChanges of the same " +
    "upserts") {
    val (a, b) = (tmpDir("mg-jobs-merge"), tmpDir("mg-jobs-changes"))
    Seq(a, b).foreach(d => ops.commitClustered(table(0, 4000), d,
      zCols = Seq("id"), statCols = Seq("id"), numFiles = 4))
    val ups = spark.range(0, 50)
      .select(col("id"), (col("id") * 100).as("payload"))
      .unionByName(spark.range(9000, 9010)
        .select(col("id"), (col("id") * 2).as("payload")))
    val (_, viaMerge) = Profile.recording(spark) {
      ops.merge(spark, a, ups, "id")
    }
    val (_, viaChanges) = Profile.recording(spark) {
      ops.mergeChanges(spark, b, ups.withColumn("op", lit("u")), "id")
    }
    assert(viaMerge.jobs.size <= viaChanges.jobs.size,
      s"merge ${viaMerge.jobs.map(_.name)} vs mergeChanges " +
        s"${viaChanges.jobs.map(_.name)}")
    val got = ops.read(spark, a)
    assert(got.count() == 4010 && got.exceptAll(ops.read(spark, b)).isEmpty)
  }

  test("a NULL op in a change batch fails loudly, not silently dropped") {
    // !isin("u","d") is NULL for a null op — a naive bad-row filter drops
    // the row, validation passes, and the row then matches neither the
    // upsert nor the delete branch: a malformed changelog row would
    // VANISH from the commit instead of failing.
    val dir = tmpDir("mg-nullop")
    ops.commit(table(0, 100), dir)
    val changes = Seq((1L, 10L, Option("u")), (2L, 20L, Option.empty[String]))
      .toDF("id", "payload", "op")
    val e = intercept[IllegalArgumentException] {
      ops.mergeChanges(spark, dir, changes, "id")
    }
    assert(e.getMessage.contains("op column"))
    assert(ops.versions(dir) == Seq(1), "nothing may land on a bad batch")
  }

  test("merge preserves delete vectors on kept files, bakes them into " +
    "rewritten ones") {
    val dir = tmpDir("mg-dels")
    ops.commitClustered(table(0, 4000), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 4) // v1
    // vector spanning every file
    val v2 = ops.deleteWhere(spark, dir, col("id") % 97 === 0)
    val liveBefore = ops.read(spark, dir).as[(Long, Long)].collect().toMap
    // merge confined to the low-id file; id=0 is dead AND a source key →
    // upsert on a deleted key must come back as the SOURCE row (an insert)
    val src = spark.range(0, 50)
      .select(col("id"), (col("id") * 100 + 7).as("payload"))
    val v3 = ops.merge(spark, dir, src, "id")
    val got = ops.read(spark, dir).as[(Long, Long)].collect().toMap
    // source rows all present with source payloads
    assert((0L until 50L).forall(i => got(i) == i * 100 + 7))
    // deleted rows OUTSIDE the source stay dead (97, 194, ... except those
    // the source re-inserted)
    assert((97L until 4000L by 97L).filter(_ >= 50).forall(!got.contains(_)))
    // untouched live rows intact
    assert(liveBefore.filter(_._1 >= 50).forall { case (k, v) => got(k) == v })
    // the surviving vector references only kept files
    val vecs = delFiles(dir, v3)
    assert(vecs.nonEmpty)
    val refs = spark.read.parquet(vecs: _*)
      .select("file_path").distinct().as[String].collect().toSet
    assert(refs.subsetOf(manifestFiles(dir, v3).toSet))
  }

  test("a concurrent append with a matched key aborts the merge; with " +
    "disjoint keys it rides through") {
    val dir = tmpDir("mg-race")
    ops.commitClustered(table(0, 1000), dir, zCols = Seq("id"),
      statCols = Seq("id"), numFiles = 2)
    // conflicting: the concurrent append lands id=10, which the merge
    // source also updates — the merge's rewrite was computed without it,
    // so publishing would duplicate the key
    @volatile var fired = false
    val racing = new ForwardingTableIO(backend) {
      override def createExclusive(path: String,
                                   lines: Seq[String]): Boolean = {
        if (!fired && path.endsWith("/v2")) {
          fired = true
          ops.commit(Seq((10L, 999L)).toDF("id", "payload"), dir)
        }
        super.createExclusive(path, lines)
      }
    }
    val merger = new VersionedTableOps(racing)
    intercept[java.util.ConcurrentModificationException] {
      merger.merge(spark, dir,
        Seq((10L, 111L)).toDF("id", "payload"), "id")
    }
    assert(fired)

    // disjoint: a concurrent append of UNRELATED keys is carried through
    // the merge's OCC retry — both commits' rows land
    @volatile var fired2 = false
    val racing2 = new ForwardingTableIO(backend) {
      override def createExclusive(path: String,
                                   lines: Seq[String]): Boolean = {
        if (!fired2 && path.endsWith("/v3")) {
          fired2 = true
          ops.commit(Seq((7000L, 7L)).toDF("id", "payload"), dir)
        }
        super.createExclusive(path, lines)
      }
    }
    val merger2 = new VersionedTableOps(racing2)
    val v = merger2.merge(spark, dir,
      Seq((20L, 222L)).toDF("id", "payload"), "id")
    assert(fired2)
    val got = ops.read(spark, dir, Some(v)).as[(Long, Long)]
      .collect().toMap
    assert(got(10L) == 999L)  // the earlier append's row
    assert(got(20L) == 222L)  // the merge's update
    assert(got(7000L) == 7L)  // the concurrent append's row
  }
}
