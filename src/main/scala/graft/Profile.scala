package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The session and the job/stage recorder of the dev mains (Bench, Verify,
  * TimeQuery, Scaling). */
object Profile {

  /** `local[SPARK_GRAFT_CPUS]` (default 4), one shuffle partition per
    * core, UTC, no UI, Spark logging at ERROR. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One Spark job: its wall (start to end event; NaN if its end was not
    * seen), call site (job description or short call site), the name of
    * its result stage (`collect at …`) and that stage's entry frame, the
    * outermost Spark method on the caller's stack. A job with no stages
    * has an empty name and entry. */
  final case class Job(id: Int, seconds: Double, site: String, name: String,
                       entry: String)

  /** One stage: each ended task's run time, and the GC, deserialize and
    * shuffle-write totals of those tasks. */
  final case class Stage(id: Int, name: String, taskMs: Seq[Long],
                         gcMs: Long, deserializeMs: Long,
                         shuffleWriteBytes: Long) {
    def tasks: Int = taskMs.size
  }

  /** The jobs a recorded body started, in start order, and their stages. */
  final case class Recording(jobs: Seq[Job], stages: Seq[Stage]) {
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  }

  private val Description = "spark.job.description"

  /** Run `body` with a listener attached and return its result with what
    * Spark ran for it. A marker job after `body` closes the window:
    * listener events arrive in order, so once the marker's start is seen
    * every event of the jobs before it has been too. Stages of jobs that
    * started before the window are not counted. */
  def recording[T](spark: SparkSession)(body: => T): (T, Recording) = {
    val marker = s"graft-profile-marker-${UUID.randomUUID()}"
    val rec = new Recorder(marker)
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      val out = body
      val prev = sc.getLocalProperty(Description)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
      if (!rec.closed.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("profile marker job never seen")
      (out, rec.result)
    } finally sc.removeSparkListener(rec)
  }

  /** Every handler runs on the listener bus thread and ignores events once
    * the marker is seen, so the owner may read the maps after `closed`. */
  private final class Recorder(marker: String) extends SparkListener {
    val closed = new CountDownLatch(1)
    private var open = true
    private val jobs = mutable.LinkedHashMap.empty[Int, (Long, Job)]
    private val stages = mutable.LinkedHashMap.empty[Int, Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = if (open) {
      def prop(k: String) = Option(e.properties).flatMap(p =>
        Option(p.getProperty(k)))
      val desc = prop(Description)
      if (desc.contains(marker)) { open = false; closed.countDown() }
      else {
        // a job with no stages (an empty RDD's action) has no result stage
        val last = e.stageInfos.maxByOption(_.stageId)
        val name = last.fold("")(_.name)
        val site = desc.orElse(prop("callSite.short")).getOrElse(name)
        jobs(e.jobId) = (e.time, Job(e.jobId, Double.NaN, site, name,
          last.flatMap(_.details.linesIterator.nextOption()).getOrElse("")))
        e.stageInfos.sortBy(_.stageId).foreach(s => stages.getOrElseUpdate(
          s.stageId, Stage(s.stageId, s.name, Vector.empty, 0L, 0L, 0L)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (open) jobs.get(e.jobId).foreach { case (t0, j) =>
        jobs(e.jobId) = (t0, j.copy(seconds = (e.time - t0) / 1e3))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (open) stages.get(e.stageId).foreach { s =>
        // a failed task may carry no metrics
        def metric(f: TaskMetrics => Long) = Option(e.taskMetrics).fold(0L)(f)
        stages(s.id) = s.copy(taskMs = s.taskMs :+ e.taskInfo.duration,
          gcMs = s.gcMs + metric(_.jvmGCTime),
          deserializeMs = s.deserializeMs + metric(_.executorDeserializeTime),
          shuffleWriteBytes = s.shuffleWriteBytes +
            metric(_.shuffleWriteMetrics.bytesWritten))
      }

    def result: Recording = Recording(jobs.values.map(_._2).toSeq,
      stages.values.filter(_.taskMs.nonEmpty).toSeq)
  }
}
