package wxbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sinks.VersionedTable

/** One row of the lake table; `cents` is `value` in hundredths, so the
  * model sums exactly, `kind` indexes `LakeModel.Kinds` and `prop` is
  * the number in `props`. */
final case class Ev(id: Long, tsSec: Long, user: Long, kind: Int,
                    cents: Long, prop: Int) {
  def value: Double = cents / 100.0
  def toRow: Row = Row(id, new java.sql.Timestamp(tsSec * 1000L), user,
    LakeModel.Kinds(kind), value, s"""{"k": $prop}""")
}

/** In-memory model of the lake table plus the seeded generator of
  * everything written to it: the seed rows, each round's append, its
  * changelog (upserts and deletes, keys skewed toward recent rows), its
  * SQL delete range and its lookup key. Ids are dense, so the model is a
  * set of primitive columns indexed by id and a live-key bit set: a few
  * MB for the 100k-row table, which `live_heap_mb` leaves out. */
final class LakeModel(seed: Long) {
  var nextId = 0L
  private var ts = new Array[Long](0)
  private var user = new Array[Long](0)
  private var cents = new Array[Long](0)
  private var kind = new Array[Byte](0)
  private var prop = new Array[Byte](0)
  private val live = new java.util.BitSet
  private var liveRows = 0
  private var liveCents = 0L
  private val t0 = 1704067200L // 2024-01-01 00:00:00 UTC

  private def rng(stream: Int, round: Int) =
    new java.util.SplittableRandom(seed * 1000003L + stream * 7919L + round)

  private def fresh(r: java.util.SplittableRandom, id: Long): Ev =
    Ev(id, t0 + id * 26 + r.nextInt(26), r.nextLong(15000), r.nextInt(5),
      1 + r.nextLong(49000), r.nextInt(100))

  def seedRows(n: Int): Seq[Ev] = {
    val r = rng(0, 0)
    (0 until n).map { _ => val e = fresh(r, nextId); nextId += 1; e }
  }

  def appendRows(round: Int, n: Int): Seq[Ev] = {
    val r = rng(1, round)
    (0 until n).map { _ => val e = fresh(r, nextId); nextId += 1; e }
  }

  /** A live key, skewed toward the newest rows. */
  private def recentLiveKey(r: java.util.SplittableRandom): Long = {
    var k = -1L
    while (k < 0 || !contains(k))
      k = nextId - 1 - (nextId * math.pow(r.nextDouble(), 3)).toLong
    k
  }

  /** (upserts, deleted keys): distinct keys, disjoint; one upsert in ten
    * inserts a new key. */
  def changelog(round: Int, nUpsert: Int, nDelete: Int): (Seq[Ev], Seq[Long]) = {
    val r = rng(2, round)
    val used = mutable.HashSet[Long]()
    val dels = Iterator.continually(recentLiveKey(r)).filter(used.add)
      .take(nDelete).toVector
    val ups = (0 until nUpsert).map { _ =>
      if (r.nextInt(10) == 0) { val e = fresh(r, nextId); nextId += 1; e }
      else {
        var k = recentLiveKey(r)
        while (!used.add(k)) k = recentLiveKey(r)
        fresh(r, k).copy(tsSec = ts(k.toInt))
      }
    }
    (ups, dels)
  }

  /** Inclusive id range of the round's SQL delete, in the older half. */
  def deleteRange(round: Int, width: Int): (Long, Long) = {
    val lo = (rng(3, round).nextDouble() * nextId / 2).toLong
    (lo, lo + width - 1)
  }

  def lookupKey(round: Int): Long = {
    val r = rng(4, round)
    var k = -1L
    while (k < 0 || !contains(k)) k = r.nextLong(nextId)
    k
  }

  def size: Int = liveRows
  def sumCents: Long = liveCents
  def contains(k: Long): Boolean = k >= 0 && k < ts.length && live.get(k.toInt)
  def apply(k: Long): Ev = {
    require(contains(k), s"no live row $k")
    val i = k.toInt
    Ev(k, ts(i), user(i), kind(i), cents(i), prop(i))
  }
  /** Live keys in ascending order. */
  def keys: Iterator[Long] = live.stream().iterator().asScala.map(_.toLong)
  def rows: Iterator[Ev] = keys.map(apply)

  private def grow(n: Long): Unit = if (n > ts.length) {
    val cap = math.max(n, ts.length * 3L / 2).toInt
    ts = java.util.Arrays.copyOf(ts, cap)
    user = java.util.Arrays.copyOf(user, cap)
    cents = java.util.Arrays.copyOf(cents, cap)
    kind = java.util.Arrays.copyOf(kind, cap)
    prop = java.util.Arrays.copyOf(prop, cap)
  }

  def put(es: Seq[Ev]): Unit = es.foreach { e =>
    drop(e.id)
    grow(e.id + 1)
    val i = e.id.toInt
    ts(i) = e.tsSec; user(i) = e.user; cents(i) = e.cents
    kind(i) = e.kind.toByte; prop(i) = e.prop.toByte
    live.set(i); liveRows += 1; liveCents += e.cents
  }

  def remove(ks: Iterable[Long]): Unit = ks.foreach(drop)

  private def drop(k: Long): Unit = if (contains(k)) {
    live.clear(k.toInt); liveRows -= 1; liveCents -= cents(k.toInt)
  }
}

object LakeModel {
  val Kinds: Array[String] = Array("view", "click", "purchase", "signup", "error")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def frame(spark: SparkSession, es: Seq[Ev]): DataFrame =
    spark.createDataFrame(es.map(_.toRow).asJava, schema)

  def changes(spark: SparkSession, ups: Seq[Ev], dels: Seq[Long],
              model: LakeModel): DataFrame = {
    val rows = ups.map(e => Row.fromSeq(e.toRow.toSeq :+ "u")) ++
      dels.map(k => Row.fromSeq(model(k).toRow.toSeq :+ "d"))
    spark.createDataFrame(rows.asJava,
      schema.add(StructField("op", StringType)))
  }
}

/** Row counts of the lake workload: the seed table, each round's append,
  * the upserts and deletes of its changelog, and the width of its SQL
  * delete range. */
final case class LakeSizes(seedRows: Int, append: Int, upserts: Int,
                           deletes: Int, deleteWidth: Int)

/** Reads beside writes on one `VersionedTable`, with auto-compaction and
  * retention on. Each round: `append` (commit), `merge` (mergeChanges of a
  * changelog), `scan` (a SQL group-by over the head through the graft
  * catalog), `lookup` (prunedRead of one key) and `delete` (SQL DELETE
  * through the graft catalog). The delete comes last because the catalog
  * refuses to serve a snapshot carrying the positional delete vectors it
  * lands; the next round's merge rewrites them away. */
final class LakeMixed extends Workload {
  var model: LakeModel = _
  private[wxbench] var dir: String = _
  private var sizes: LakeSizes = _
  private val writeAmp = mutable.ArrayBuffer[Double]()
  private val lookupFiles = mutable.ArrayBuffer[(Int, Int)]()
  private val mergeIo = mutable.ArrayBuffer[Long]()

  def nominalRoundS: Double = 5.0
  override def minRounds: Int = 2

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    sizes = if (ctx.tiny) LakeSizes(2000, 100, 25, 5, 5)
      else LakeSizes(100000, 2000, 250, 50, 20)
    model = new LakeModel(ctx.seed)
    dir = s"${ctx.root}/lake/events_$rep"
    val seedRows = model.seedRows(sizes.seedRows)
    VersionedTable.commit(LakeModel.frame(spark, seedRows), dir)
    model.put(seedRows)
    VersionedTable.setTableProperty(dir, "compact.auto.files", "8")
    VersionedTable.setTableProperty(dir, "retention.keep.last", "4")
    VersionedTable.setTableProperty(dir, "retention.expire.every", "4")
  }

  override def checkSetup(ctx: Ctx, rep: Int): Unit =
    ctx.checks(s"lake set-up $rep: fastCount equals the seed") {
      VersionedTable.fastCount(ctx.spark, dir) == model.size.toLong
    }

  private def dataFiles = Workload.files(dir, Workload.isDataFile)

  /** Runs a writing op; when tracing, also measures the bytes it landed
    * against the bytes its rows take at the table's current density. */
  private def write[T](ctx: Ctx, kind: String, r: Int, userRows: Int)
                      (f: => T): Option[T] = {
    val before = if (ctx.rec.traced) dataFiles else Map.empty[String, Long]
    val out = ctx.rec.op(kind, r)(f)
    if (ctx.rec.traced && r >= 0 && userRows > 0) {
      val after = dataFiles
      val landed = after.iterator.filter(kv => !before.contains(kv._1))
        .map(_._2).sum
      val perRow = after.values.sum.toDouble / math.max(1, model.size)
      writeAmp += landed / (userRows * perRow)
    }
    out
  }

  def round(ctx: Ctx, r: Int): Unit = {
    val spark = ctx.spark
    val LakeSizes(_, nAppend, nUp, nDel, width) = sizes

    val app = model.appendRows(r, nAppend)
    val appDf = LakeModel.frame(spark, app)
    if (write(ctx, "append", r, nAppend) {
      ctx.rec.span("sinks.commit")(VersionedTable.commit(appDf, dir))
    }.isDefined) model.put(app)

    val (ups, dels) = model.changelog(r, nUp, nDel)
    val chDf = LakeModel.changes(spark, ups, dels, model)
    if (write(ctx, "merge", r, nUp + nDel) {
      ctx.rec.span("sinks.merge_changes") {
        VersionedTable.mergeChanges(spark, dir, chDf, "event_id")
      }
    }.isDefined) { model.put(ups); model.remove(dels) }

    val scan = ctx.rec.op("scan", r) {
      val df = ctx.rec.span("sql.analyze") {
        spark.sql(s"SELECT event_type, count(*) AS n, sum(value) AS s " +
          s"FROM graft.`$dir` GROUP BY event_type")
      }
      ctx.rec.span("sql.action")(df.collect())
    }
    ctx.checks(s"lake round $r: scan matches the model") {
      val n = new Array[Long](LakeModel.Kinds.length)
      val cents = new Array[Long](LakeModel.Kinds.length)
      model.rows.foreach { e => n(e.kind) += 1; cents(e.kind) += e.cents }
      val want = LakeModel.Kinds.indices.filter(n(_) > 0)
        .map(i => LakeModel.Kinds(i) -> (n(i), cents(i))).toMap
      scan.exists { rows =>
        rows.length == want.size && rows.forall { row =>
          want.get(row.getString(0)).exists { case (n, cents) =>
            row.getLong(1) == n && close(row.getDouble(2), cents)
          }
        }
      }
    }

    val key = model.lookupKey(r)
    val found = ctx.rec.op("lookup", r) {
      val df = ctx.rec.span("sinks.pruned_read") {
        VersionedTable.prunedRead(spark, dir, "event_id", key, key)
      }
      (df, ctx.rec.span("sql.action")(df.filter(col("event_id") === key).collect()))
    }
    ctx.checks(s"lake round $r: lookup returns the model's row") {
      found.exists { case (_, rows) =>
        rows.length == 1 && rows.head == model(key).toRow
      }
    }
    val (lo, hi) = model.deleteRange(r, width)
    if (write(ctx, "delete", r, width) {
      ctx.rec.span("sql.delete") {
        spark.sql(s"DELETE FROM graft.`$dir` WHERE event_id BETWEEN $lo AND $hi")
      }
    }.isDefined) model.remove(lo to hi)

    if (ctx.rec.traced && r >= 0) found.foreach { case (df, _) =>
      lookupFiles += ((df.inputFiles.length,
        VersionedTable.read(spark, dir).inputFiles.length))
    }
    if (ctx.rec.traced && r >= 0) mergeIo += ctx.rec.ops.reverseIterator
      .find(_.kind == "merge").map(o => ctx.rec.countersOf(o.id).ioTotal)
      .getOrElse(0L)
    if (r % 3 == 2) verify(ctx, s"round $r")
  }

  private def close(got: Double, cents: Long): Boolean =
    math.abs(got - cents / 100.0) <= 1e-9 * math.abs(cents / 100.0) + 1e-6

  /** Row count, key set and sum(value) of the head against the model,
    * and fastCount against the model. */
  private def verify(ctx: Ctx, when: String): Unit = {
    val head = VersionedTable.read(ctx.spark, dir)
      .select(col("event_id"), col("value")).collect()
    ctx.checks(s"lake $when: row count equals the model") {
      head.length == model.size
    }
    ctx.checks(s"lake $when: key set equals the model") {
      head.iterator.map(_.getLong(0)).toArray.sorted.sameElements(model.keys)
    }
    ctx.checks(s"lake $when: sum(value) equals the model") {
      close(head.iterator.map(_.getDouble(1)).sum, model.sumCents)
    }
    ctx.checks(s"lake $when: fastCount equals the model") {
      VersionedTable.fastCount(ctx.spark, dir) == model.size.toLong
    }
  }

  def finish(ctx: Ctx): Map[String, Double] = {
    verify(ctx, "end")
    val (all, _) = Workload.dirBytes(dir)
    val (data, _) = Workload.dirBytes(dir, Workload.isDataFile)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "sinks.metadata_bytes" -> (all - data).toDouble,
      "sinks.write_amp" -> mean(writeAmp.toSeq),
      "sinks.tableio_ops.merge_first" -> mergeIo.headOption.getOrElse(0L).toDouble,
      "sinks.tableio_ops.merge_last" -> mergeIo.lastOption.getOrElse(0L).toDouble,
      "scan.lookup_files" -> mean(lookupFiles.map(_._1.toDouble).toSeq),
      "scan.lookup_prune_ratio" -> mean(lookupFiles.map { case (k, n) =>
        if (n == 0) 0.0 else 1.0 - k.toDouble / n }.toSeq))
  }

  override def storedBytesPerRow: Double =
    Workload.dirBytes(dir)._1.toDouble / math.max(1, model.size)

  override def artifact: Map[String, Any] = Map(
    "rows_in_table" -> model.size,
    "tableio_ops_per_merge" -> mergeIo.toSeq,
    "write_amp_per_write" -> writeAmp.toSeq,
    "lookup_files_vs_head_files" -> lookupFiles.map(p => Seq(p._1, p._2)).toSeq)
}
