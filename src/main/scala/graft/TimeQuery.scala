package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool (not part of the driver contract): run ONE registered query
  * through the noop sink and print a per-Spark-job time breakdown — the
  * "where do the seconds go" view the optimization loop needs when a
  * query is many small jobs (lake commits, iterative rounds, in-query
  * requires) rather than one big one — or print its plans instead
  * (see [[printPlan]]). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.TimeQuery q_sql_dedup [runs | --plan | --plan=exec]"
  */
object TimeQuery {
  /** `--plan`: the optimized plan with the optimizer's size estimates and
    * the static physical plan. The plan is built (which executes eager
    * checkpoints in the lineage) but the query itself never runs.
    * `--plan=exec`: run the query once and print the AQE-final plan —
    * stage reuse, runtime join switches and codegen collapse only appear
    * after execution. */
  private def printPlan(df: DataFrame, name: String, dir: String,
                        mode: String): Unit = mode match {
    case "--plan" =>
      println(s"==== $name @ $dir: optimized plan with stats ====")
      println(df.queryExecution.optimizedPlan.treeString(
        verbose = false, addSuffix = true))
      println(s"==== $name @ $dir: static physical plan ====")
      println(df.queryExecution.sparkPlan.treeString)
    case "--plan=exec" =>
      println(s"==== $name ====")
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    case other =>
      sys.error(s"unknown option $other: use --plan or --plan=exec")
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val mode = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode.exists(_.startsWith("--plan"))) {
      printPlan(SparkEntry.queries(name)(spark, sfDir), name, sfDir, mode.get)
      spark.stop()
      return
    }
    val runs = mode.map(_.toInt).getOrElse(2)
    val starts = new TrieMap[Int, (Long, String)]
    val jobs = new java.util.concurrent.CopyOnWriteArrayList[(Int, Double, String)]
    val stageTasks = new TrieMap[Int, (Int, Long)] // stage -> (tasks, ms sum)
    val stageNames = new TrieMap[Int, String]
    // per-stage task-time distribution: stage -> task runtimes (ms) — the
    // skew view (max vs median) the optimization guide §2.5 asks for
    val taskTimes = new TrieMap[Int, java.util.concurrent.CopyOnWriteArrayList[Long]]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (System.nanoTime(), {
          val p = Option(e.properties)
          p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .orElse(p.flatMap(x => Option(x.getProperty("callSite.short"))))
            .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
            .take(110)
        }))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site) =>
          jobs.add((e.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        taskTimes.getOrElseUpdate(e.stageId,
          new java.util.concurrent.CopyOnWriteArrayList[Long])
          .add(e.taskInfo.duration)
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = ()
    })
    // GC and deserialization per stage — split a high per-task cost into
    // compute vs JVM overhead
    val gcTimes = new TrieMap[Int, java.util.concurrent.atomic.AtomicLong]
    val deserTimes = new TrieMap[Int, java.util.concurrent.atomic.AtomicLong]
    // shuffle bytes written per stage — which stages carry the data volume
    val shufWrite = new TrieMap[Int, java.util.concurrent.atomic.AtomicLong]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          gcTimes.getOrElseUpdate(e.stageId,
            new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(e.taskMetrics.jvmGCTime)
          deserTimes.getOrElseUpdate(e.stageId,
            new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(e.taskMetrics.executorDeserializeTime)
          shufWrite.getOrElseUpdate(e.stageId,
            new java.util.concurrent.atomic.AtomicLong)
            .addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stageNames.put(i.stageId, i.name.take(70))
        stageTasks.put(i.stageId, (i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)))
      }
    })
    spark.read.parquet(s"$sfDir/region.parquet").count()
    (1 to runs).foreach { r =>
      jobs.clear(); stageTasks.clear(); taskTimes.clear()
      gcTimes.clear(); deserTimes.clear(); shufWrite.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val jsum = js.map(_._2).sum
      println(f"== $name run $r: total $total%.2f s, ${js.size} jobs " +
        f"(sum $jsum%.2f s, gap ${total - jsum}%.2f s driver-side)")
      js.sortBy(-_._2).take(18).foreach { case (id, sec, site) =>
        println(f"  job $id%4d  $sec%6.3f s  $site")
      }
      // heaviest stages by summed task time, with the skew signature
      import scala.jdk.CollectionConverters._
      val st = taskTimes.toSeq.map { case (sid, ts) =>
        val a = ts.asScala.toSeq.sorted
        (sid, a.sum, a.size, if (a.nonEmpty) a(a.size / 2) else 0L,
          a.lastOption.getOrElse(0L))
      }.sortBy(-_._2).take(8)
      st.foreach { case (sid, sum, n, med, mx) =>
        val gc = gcTimes.get(sid).map(_.get()).getOrElse(0L)
        val de = deserTimes.get(sid).map(_.get()).getOrElse(0L)
        val sw = shufWrite.get(sid).map(_.get()).getOrElse(0L)
        println(f"  stage $sid%4d  taskSum ${sum / 1e3}%7.3f s  tasks $n%4d" +
          f"  med ${med}%5d ms  max ${mx}%6d ms  gc ${gc / 1e3}%6.2f s" +
          f"  deser ${de / 1e3}%6.2f s  shufW ${sw / 1e6}%8.2f MB  " +
          stageNames.getOrElse(sid, "?"))
      }
    }
    spark.stop()
  }
}
