package wxbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * {{{
  * wxbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *              --root <scratch dir> --result <file> [--spans <file>] [--tiny]
  * }}}
  * Sets the workload up several times, warms up, times `--seconds` worth
  * of rounds (see `roundsFor`), checks the outputs, and writes the result JSON
  * (the metric set of the trace mode, the counts and the run artifact)
  * to `--result`. The caller owns `--root`, which should also be the
  * JVM's `java.io.tmpdir`'s parent, and removes it afterwards. */
object Main {
  /** Set-ups per run; `setup_s` is their median. The first is cold. */
  val SetupReps = 3
  /** Spark's `local[N]` is capped here (N = min(this, nproc)). */
  val SparkCores = 4

  /** Timed rounds of a run: `seconds` worth of warm rounds at the
    * workload's nominal round time. */
  def roundsFor(w: Workload, seconds: Double): Int =
    math.max(w.minRounds, math.round(seconds / w.nominalRoundS).toInt)

  def main(argv: Array[String]): Unit = {
    val flags = argv.toSeq
    def arg(k: String): Option[String] =
      flags.sliding(2).collectFirst { case Seq(`k`, v) => v }
    def need(k: String) = arg(k).getOrElse(
      throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    val w = Workload(workload)
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val tiny = flags.contains("--tiny")
    val root = need("--root")
    val cores = math.max(1, math.min(SparkCores, Runtime.getRuntime.availableProcessors))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"wxbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val out = run(spark, w, workload, seed, seconds, traced, tiny, root, cores,
        arg("--spans"), sessionS)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(need("--result")), Json(out))
    } finally spark.stop()
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use after a full GC, and the part of it the workload's own
    * model holds, in MB. The first GC lets Spark's context cleaner see
    * which broadcasts and shuffles died; the second frees the blocks it
    * then drops, so the sample depends less on the cleaner's timing. */
  private def liveHeapMb(w: Workload): (Double, Double) = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    ((rt.totalMemory - rt.freeMemory) / 1048576.0,
      org.apache.spark.util.SizeEstimator.estimate(w.model) / 1048576.0)
  }

  def run(spark: SparkSession, w: Workload, workload: String, seed: Long,
          seconds: Double, traced: Boolean, tiny: Boolean, root: String,
          cores: Int, spansPath: Option[String],
          sessionS: Double): ListMap[String, Any] = {
    val rec = new Recorder(spark, traced)
    val checks = new Checks
    val ctx = Ctx(spark, root, seed, tiny, rec, checks)
    val tmpDir = System.getProperty("java.io.tmpdir")

    rec.install()
    val setup = (0 until SetupReps).map { rep =>
      val s = time(w.setup(ctx, rep))
      w.checkSetup(ctx, rep)
      rec.clearCaches(count = false)
      s
    }
    val warmup = time(w.warmup(ctx))
    val tmp0 = Workload.dirBytes(tmpDir)._1

    // live_heap_mb leaves the benchmark's own model out
    var heap, modelMb = 0.0
    val heapSamples = mutable.ArrayBuffer[(Double, Double)]()
    def sampleHeap(): Unit = {
      val (all, own) = liveHeapMb(w)
      heapSamples += ((all, own))
      if (all - own > heap) { heap = all - own; modelMb = own }
    }
    sampleHeap()
    val loop0 = System.nanoTime()
    val rounds = if (tiny) 2 else roundsFor(w, seconds)
    (0 until rounds).foreach { r =>
      w.round(ctx, r)
      sampleHeap()
    }
    val stored = w.storedBytesPerRow
    val loopS = (System.nanoTime() - loop0) / 1e9
    val finish0 = System.nanoTime()
    val own = w.finish(ctx)
    val finishS = (System.nanoTime() - finish0) / 1e9
    val tmpGrowthMb = (Workload.dirBytes(tmpDir)._1 - tmp0) / 1048576.0
    rec.uninstall()

    val ops = rec.ops.toSeq.filter(_.round >= 0)
    val roundS = ops.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.seconds).sum)
    val e2e = ListMap(
      "setup_s" -> Stats.median(setup),
      "round_p50_s" -> medianRound(ops)(_.seconds),
      "live_heap_mb" -> heap)

    val layer = if (traced) perLayer(rec, own, rounds, tmpGrowthMb) +
      ("table.stored_bytes_per_row" -> stored) else Map.empty[String, Double]
    spansPath.filter(_ => traced).foreach { p =>
      val wr = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(p))
      try rec.spansJsonLines.foreach { l => wr.write(l); wr.write("\n") }
      finally wr.close()
    }

    val allOps = rec.ops.toSeq
    val attempted = allOps.size + checks.attempted
    val failed = allOps.count(!_.ok) + checks.failed
    val chosen = if (traced) Metrics.perLayer else Metrics.endToEnd
    val values = e2e ++ layer
    ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(chosen.map(m =>
        m.name -> ListMap("value" -> values.getOrElse(m.name, 0.0), "unit" -> m.unit)): _*),
      "artifact" -> ListMap(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "traced" -> traced, "tiny" -> tiny,
        "failed_ratio" -> failed.toDouble / math.max(1, attempted),
        "failed_checks" -> checks.failures.toSeq,
        "end_to_end" -> e2e,
        "stored_bytes_per_row" -> stored,
        "model_mb_at_peak_heap" -> modelMb,
        "heap_samples_mb" -> heapSamples.map { case (a, o) => Seq(a, o) },
        "jvm_start_to_session_s" -> sessionS,
        "setup_samples_s" -> setup,
        "warmup_s" -> warmup,
        "loop_s" -> loopS,
        "finish_s" -> finishS,
        "rounds" -> rounds,
        "round_samples_s" -> roundS,
        "ops" -> (Metrics.Kinds ++ AnalyticsMix.Queries).flatMap { k =>
          val xs = ops.filter(_.kind == k).map(_.seconds)
          if (xs.isEmpty) None
          else {
            val (tv, tp, tn) = Stats.tail(xs)
            Some(k -> ListMap("p50_s" -> Stats.median(xs), "tail_s" -> tv,
              "tail_percentile" -> tp, "samples" -> tn))
          }
        }.toMap,
        "per_layer" -> layer,
        "workload" -> w.artifact,
        "env" -> ListMap(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "spark_cores" -> cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
          "spark_version" -> spark.version,
          "jdk" -> System.getProperty("java.version"),
          "load_average" -> java.lang.management.ManagementFactory
            .getOperatingSystemMXBean.getSystemLoadAverage)))
  }

  /** A median round: the sum over op kinds of each kind's median
    * latency, so one slow op (a compaction that one landing triggered)
    * does not make its whole round the median. */
  def medianRound(ops: Seq[Op])(f: Op => Double): Double =
    ops.groupBy(_.kind).values.map(os => Stats.median(os.map(f))).sum

  private def perLayer(rec: Recorder, own: Map[String, Double],
                       rounds: Int,
                       tmpGrowthMb: Double): Map[String, Double] = {
    val ops = rec.ops.toSeq.filter(_.round >= 0)
    val c = ops.map(o => o -> rec.countersOf(o.id))
    def perRound(f: OpCounters => Double) = c.map(x => f(x._2)).sum / rounds
    val self = rec.selfTimes
    val timed = ops.map(_.id).toSet
    def selfPerRound(name: String) = rec.spans.iterator
      .filter(s => s != null && timed(s.op) && s.name == name)
      .map(s => self(s.id) / 1e9).sum / rounds
    def meanOf(kind: String)(f: Op => Double) = {
      val xs = ops.filter(_.kind == kind).map(f)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val generic = Map(
      "trace.round_p50_s" -> medianRound(ops)(_.seconds),
      "spark.jobs_per_round" -> perRound(_.jobs.get.toDouble),
      "spark.driver_gap_s_per_round" -> ops.map(rec.driverGapMs(_) / 1e3).sum / rounds,
      "spark.planning_s_per_round" -> perRound(_.planningMs.get / 1e3),
      "spark.task_cpu_s_per_round" -> perRound(_.taskCpuNs.get / 1e9),
      "spark.gc_s_per_round" -> perRound(_.gcMs.get / 1e3),
      "spark.shuffle_write_mb_per_round" -> perRound(_.shuffleWriteBytes.get / 1048576.0),
      "spark.spill_mb_per_round" -> perRound(_.spillBytes.get / 1048576.0),
      "scan.bytes_read_mb_per_round" -> perRound(_.bytesRead.get / 1048576.0),
      "spark.cached_relations_left" -> rec.cachedLeft.toDouble,
      "jvm.tmp_mb_growth" -> tmpGrowthMb,
      "core.ddl_s" -> selfPerRound("core.ddl"),
      "sources.load_many_s" -> selfPerRound("sources.load_many"),
      "pipeline.run_batch_s" -> selfPerRound("pipeline.run_batch"),
      "sql.analyze_s" -> selfPerRound("sql.analyze"),
      "sinks.tableio_s_per_round" -> perRound(_.ioNs.get / 1e9),
      "lake.append_tail_s" -> {
        val xs = ops.filter(_.kind == "append").map(_.seconds)
        if (xs.isEmpty) 0.0 else Stats.tail(xs)._1
      })
    val kinds = (Metrics.Kinds ++ AnalyticsMix.Queries).flatMap { k =>
      val xs = ops.filter(_.kind == k).map(_.seconds)
      Seq(s"op.${k}_p50_s" -> (if (xs.isEmpty) 0.0 else Stats.median(xs)),
        s"spark.jobs.$k" -> meanOf(k)(o => rec.countersOf(o.id).jobs.get.toDouble),
        s"spark.driver_gap_s.$k" -> meanOf(k)(o => rec.driverGapMs(o) / 1e3))
    }
    val io = Metrics.LakeKinds.map(k =>
      s"sinks.tableio_ops.$k" -> meanOf(k)(o => rec.countersOf(o.id).ioTotal.toDouble)) ++
      CountingTableIO.methods.map(m =>
        s"sinks.tableio_method.$m" -> perRound(_.ioCount(m).toDouble))
    generic ++ kinds ++ io ++ own
  }
}
