package wxbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.TableIO

/** One timed operation of a workload: `kind` names it (an ingest round,
  * a lake op, a query), `round` is the loop iteration it belongs to. */
final case class Op(id: Int, kind: String, round: Int, startMs: Long,
                    endMs: Long, seconds: Double, ok: Boolean)

/** One traced interval around a call into the engine. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, endNs: Long)

/** Counters one op accumulates from the Spark listener and the TableIO
  * decorator. */
final class OpCounters {
  val jobs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val bytesRead = new AtomicLong
  val planningMs = new AtomicLong
  val ioNs = new AtomicLong
  val io = new ConcurrentHashMap[String, AtomicLong]
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  def ioCount(method: String): Long =
    Option(io.get(method)).map(_.get).getOrElse(0L)
  def ioTotal: Long = io.values.asScala.map(_.get).sum
}

/** Times every op; with tracing on, also records spans around the calls
  * the workloads make into the engine, attributes Spark jobs, stages and
  * tasks to ops through a job-local property, collects planning phase
  * times from each query's tracker, and counts `TableIO` calls.
  *
  * One client thread drives the engine, so the span stack needs no
  * synchronisation; listener and TableIO counters may be updated from
  * other threads and are atomic. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val OpProperty = "wxbench.op"
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  @volatile private var currentOp = -1
  private val counters = new ConcurrentHashMap[Int, OpCounters]
  private val stageOp = new ConcurrentHashMap[Int, Int]
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def countersOf(op: Int): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  /** Runs `f` as one timed op. Failures are recorded, not thrown. */
  def op[T](kind: String, round: Int)(f: => T): Option[T] = {
    val id = ops.size
    currentOp = id
    if (traced) spark.sparkContext.setLocalProperty(OpProperty, id.toString)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(span(kind)(f)) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[wxbench] op $kind (round $round) failed: $e")
        None
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ops += Op(id, kind, round, w0, System.currentTimeMillis(), secs,
      r.isDefined)
    if (traced) spark.sparkContext.setLocalProperty(OpProperty, null)
    currentOp = -1
    clearCaches(count = true)
    r
  }

  /** Relations still cached after an op, summed over ops. */
  var cachedLeft = 0L

  /** Drops what is cached (counting it when an op left it), so no op is
    * served from an earlier op's or check's cache. */
  def clearCaches(count: Boolean): Unit = {
    val left = spark.sparkContext.getPersistentRDDs
    if (count) cachedLeft += left.size
    if (left.nonEmpty) {
      spark.catalog.clearCache()
      left.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** Records a span around `f` when tracing; otherwise just runs it. */
  def span[T](name: String)(f: => T): T =
    if (!traced) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span ends
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, currentOp, name, t0, System.nanoTime())
      }
    }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfTimes: Map[Int, Long] = Recorder.selfTimes(spans.toSeq)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .flatMap(_.toIntOption).foreach { op =>
          jobStart.put(e.jobId, (op, e.time))
          countersOf(op).jobs.incrementAndGet()
          e.stageIds.foreach(s => stageOp.put(s, op))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        countersOf(op).jobIntervals.add((t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Option(stageOp.get(e.stageId)).foreach { op =>
          val c = countersOf(op)
          c.taskCpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        }
      }
  }

  /** Planning phases carry their own wall-clock start, which places them
    * in the op that was running at the time; they are placed once the
    * run ends, when every op interval is known. */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      attributePlanning(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      attributePlanning(qe)
  }

  private def attributePlanning(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phase != "parsing") phases.add((s.startTimeMs, s.durationMs))
    }

  private var installedIo: Option[TableIO] = None

  /** Installs the listeners and the counting `TableIO` decorator. */
  def install(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    val prev = graft.sinks.VersionedTable.backend
    installedIo = Some(prev)
    graft.sinks.VersionedTable.setBackend(new CountingTableIO(prev, this))
  }

  /** Waits for every listener event, then detaches everything `install`
    * attached and restores the previous `TableIO` backend. */
  def uninstall(): Unit = if (traced) {
    org.apache.spark.wxbench.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    phases.asScala.foreach { case (at, ms) =>
      ops.find(o => o.startMs <= at && at <= o.endMs)
        .foreach(o => countersOf(o.id).planningMs.addAndGet(ms))
    }
    installedIo.foreach(graft.sinks.VersionedTable.setBackend)
    installedIo = None
  }

  private[wxbench] def io[T](method: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val c = countersOf(currentOp)
      c.ioNs.addAndGet(System.nanoTime() - t0)
      c.io.computeIfAbsent(method, _ => new AtomicLong).incrementAndGet()
    }
  }

  /** The wall time of op `o` that no Spark job of that op covered. */
  def driverGapMs(o: Op): Long = {
    val jobs = countersOf(o.id).jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, o.startMs), math.min(b, o.endMs)) }
    (o.endMs - o.startMs) - Recorder.unionLength(jobs)
  }

  def spansJsonLines: Iterator[String] = {
    val self = selfTimes
    spans.iterator.filter(_ != null).map { s =>
      Json(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> (s.startNs + epochNs), "end_ns" -> (s.endNs + epochNs),
        "self_ns" -> self.getOrElse(s.id, 0L)))
    }
  }
}

object Recorder {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val live = spans.filter(_ != null)
    val children = live.groupBy(_.parent)
    live.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> ((s.endNs - s.startNs) - unionLength(kids))
    }.toMap
  }
}

/** Counts and times every `TableIO` call, per op and per method. */
final class CountingTableIO(inner: TableIO, rec: Recorder) extends TableIO {
  override def mkdirs(dir: String): Unit = rec.io("mkdirs")(inner.mkdirs(dir))
  override def exists(path: String): Boolean =
    rec.io("exists")(inner.exists(path))
  override def list(dir: String): Seq[String] = rec.io("list")(inner.list(dir))
  override def readLines(path: String): Seq[String] =
    rec.io("readLines")(inner.readLines(path))
  override def writeLines(path: String, lines: Seq[String]): Unit =
    rec.io("writeLines")(inner.writeLines(path, lines))
  override def createExclusive(path: String, lines: Seq[String]): Boolean =
    rec.io("createExclusive")(inner.createExclusive(path, lines))
  override def delete(path: String): Unit = rec.io("delete")(inner.delete(path))
  override def size(path: String): Long = rec.io("size")(inner.size(path))
  override def isDir(path: String): Boolean = rec.io("isDir")(inner.isDir(path))
  override def mtime(path: String): Long = rec.io("mtime")(inner.mtime(path))
}

object CountingTableIO {
  val methods: Seq[String] = Seq("mkdirs", "exists", "list", "readLines",
    "writeLines", "createExclusive", "delete", "size", "isDir", "mtime")
}
