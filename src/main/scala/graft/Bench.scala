package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Workspace

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, forcing full execution through the noop sink (count()
  * would let Catalyst prune whole subtrees of the projection), and prints
  * exactly one JSON line. Besides per-query seconds the line carries
  * per-query shuffle-write MB (task-metrics listener) — the scale signal
  * that matters at 100 TB: a query that got faster by shuffling more is not
  * an improvement.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Profile.session()
    // One timed execution through the noop sink: its seconds and the MB
    // its tasks wrote to shuffle. The recording's marker job runs after
    // the clock stops.
    def timedRun(df: => DataFrame): (Double, Double) = {
      val (sec, rec) = Profile.recording(spark) {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      (sec, rec.shuffleWriteBytes / 1e6)
    }
    // Warm the JVM + file cache on the smallest table so the first measured
    // query doesn't absorb session bring-up.
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // N timed executions per query, keep the min: JIT-compiled codegen and
    // GC pauses put ±2s of noise on individual cold runs (and ±4s on the
    // 65-query total at min-of-2); min-of-N is the steady-state number a
    // resident engine would serve, and N=3 halves the total's run-to-run
    // spread for ~80s of extra wall.
    val benchRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Contention control (round-13 directive: the r13 artifact overstated
    // the engine by 1.8× under ambient machine load and had to be
    // re-adjudicated by hand). Three defenses, all in the artifact:
    //   (a) per-query 1-minute load average sampled at measurement time;
    //   (b) a stolen-run detector — when the MEDIAN of the timed runs
    //       exceeds 1.5× the min by more than 0.5 s absolute, the
    //       majority of runs were contended (min-of-N absorbs one slow
    //       run, not a loaded machine) — which auto-reruns the query up
    //       to `rerunCap` more times; a transient spike washes out, a
    //       loaded machine keeps the flag;
    //   (c) when more than `maxContended` queries stay flagged, the
    //       TOTAL is refused (-1) — per-query numbers still land, but a
    //       capture this polluted must not masquerade as a regression.
    val rerunCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUNS", "3").toInt
    val maxContended =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_CONTENDED", "8").toInt
    def loadAvg1m(): Double =
      try { // /proc/loadavg is Linux-only; MXBean is the portable fallback
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
          .split(" ")(0).toDouble
      } catch { case _: Throwable =>
        java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
      }
    def medianOf(ok: Seq[Double]): Double =
      if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.size / 2)
    def contendedRuns(ts: Seq[Double]): Boolean = {
      val ok = ts.filter(_ >= 0)
      ok.size >= 2 && {
        val mn = ok.min; val md = medianOf(ok)
        md > mn * 1.5 && md - mn > 0.5
      }
    }
    // A failed run reports -1 for the query (never a bogus fast elapsed) and
    // is excluded from the total, so breakage reads as breakage.
    // SPARK_GRAFT_ONLY=q_a,q_b narrows to a subset for local iteration —
    // the driver never sets it, so the per-round artifact stays complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val results = SparkEntry.queries.toSeq
      .filter(q => only.forall(_.contains(q._1)))
      .sortBy(_._1).map { case (name, fn) =>
      var lastShuffleMb = -1.0
      var maxLoad = -1.0
      // one workspace scope per run: what the query landed is deleted
      // after the clock stops and its shuffle bytes are read
      def timeOnce(): Double =
        try Workspace.scoped(spark) {
          val (sec, mb) = timedRun(fn(spark, sfDir))
          lastShuffleMb = mb
          maxLoad = math.max(maxLoad, loadAvg1m())
          sec
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      var times = (1 to benchRuns).map(_ => timeOnce())
      // stolen-run auto-rerun: each extra quiet run pulls the median back
      // toward the min; a persistent divergence is real machine load
      var extra = 0
      while (contendedRuns(times) && extra < rerunCap) {
        System.err.println(s"[bench] $name: min/median diverge " +
          "(stolen-run signature) — re-running")
        times = times :+ timeOnce()
        extra += 1
      }
      // per-run record to stderr: the JSON carries min/median/spread, but
      // diagnosing WHICH run was slow (cold JIT vs mid-capture GC vs a
      // stolen slot) needs the raw sequence
      System.err.println(s"[bench] $name runs: " +
        times.map(t => f"$t%.2f").mkString(", "))
      val ok = times.filter(_ >= 0)
      // median alongside the min (round-11 directive): min-of-N is the
      // steady-state number, but one quiet run among N loaded ones can
      // make a regression invisible — the median moves only when the
      // MAJORITY of runs move, so min vs median disagreement flags a
      // capture the judge should discount.
      val med = medianOf(ok)
      // spread over WARM runs (first timed execution dropped when ≥3):
      // the first run pays JIT + codegen (q_pagerank: ~18s cold vs
      // 7-8.5s warm, measured), a known constant cost min-of-N already
      // discounts — folding it into the spread would make every heavy
      // query read as contended when the machine was quiet
      val warm = if (ok.size >= 3) ok.tail else ok
      (name, if (ok.nonEmpty) ok.min else -1.0, lastShuffleMb,
        if (warm.size >= 2) warm.max - warm.min else -1.0, med,
        contendedRuns(times), maxLoad)
    }
    // Artifact queries (landed index / bucketed layout) are measured a
    // second way: build ONCE per session (timed as <q>_build), then time
    // the serve path alone (<q>_serve, min-of-N) — the per-batch number
    // that predicts 100 TB serving, which the end-to-end q_* total hides
    // behind its in-query artifact build. Neither extra entry counts
    // toward the driver's round-over-round total.
    // One workspace scope holds the artifact for its build and its serves.
    val artifactResults = BenchArtifacts.splits.toSeq.sortBy(_._1)
      .flatMap { case (name, split) =>
        try Workspace.scoped(spark) {
          val b0 = System.nanoTime()
          val handle = split.build(spark, sfDir)
          val buildSec = (System.nanoTime() - b0) / 1e9
          val runs = (1 to benchRuns).map(_ =>
            timedRun(split.serve(spark, sfDir, handle)))
          Seq((s"${name}_build", buildSec, -1.0),
            (s"${name}_serve", runs.map(_._1).min, runs.last._2))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${name}_serve failed: ${e.getMessage}")
          Seq((s"${name}_serve", -1.0, -1.0))
        }
      }
    val reported = results.map { case (k, v, m, _, _, _, _) => (k, v, m) } ++
      artifactResults
    val qs = reported.map { case (k, v, _) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val sh = reported.map { case (k, _, m) => "\"" + k + f"""\":$m%.2f""" }
      .mkString("{", ",", "}")
    // Refuse the total on a polluted capture (contention control (c)):
    // per-query numbers still land below, but a sum over a loaded machine
    // is not a number any round comparison should consume.
    val contendedNames = results.collect {
      case (k, _, _, _, _, true, _) => k }
    val rawTotal = results.map(_._2).filter(_ >= 0).sum
    val total = if (contendedNames.size > maxContended) {
      System.err.println(s"[bench] REFUSING total: " +
        s"${contendedNames.size} queries stayed contended after reruns " +
        s"(cap $maxContended): ${contendedNames.mkString(",")}")
      -1.0
    } else rawTotal
    // Noise-vs-drift at a glance (round-10 directive): the three heaviest
    // queries' run-to-run spread (max − min across the N timed runs) rides
    // in the artifact — a "regression" smaller than its query's recorded
    // spread is load noise, not drift, with no second capture needed.
    val spread = results.filter(_._2 >= 0).sortBy(-_._2).take(3)
      .map { case (k, _, _, sp, _, _, _) => "\"" + k + f"""\":$sp%.3f""" }
      .mkString("{", ",", "}")
    val medians = results
      .map { case (k, _, _, _, md, _, _) => "\"" + k + f"""\":$md%.3f""" }
      .mkString("{", ",", "}")
    // Per-query 1-minute load average at measurement time (contention
    // control (a)): a judge reading a per-query regression sees the load
    // it ran under, not just the end-of-capture snapshot.
    val loads = results
      .map { case (k, _, _, _, _, _, ld) => "\"" + k + f"""\":$ld%.2f""" }
      .mkString("{", ",", "}")
    val contendedJson =
      contendedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Capture hygiene (round-9 directive): identical code benched twice
    // differed uniformly under background load (q_pagerank 3.6 -> 8.6 s
    // with zero code change) — min-of-N absorbs per-query noise but not a
    // loaded machine, so the artifact RECORDS the 1-minute load average
    // at capture end; a judge comparing rounds can discount a loaded run.
    val loadAvg = loadAvg1m()
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"median_sec":$medians,"shuffle_mb":$sh,"spread_sec":$spread,"load_1m":$loads,"contended":$contendedJson,"sf":"$sfDir","bench_runs":$benchRuns,"load_avg_1m":$loadAvg%.2f}"""
    println(fullLine)
    // Durable copy of the full record: the driver's tail capture only
    // preserves the compact line, which made round 4's per-query map
    // unrecoverable. Path is overridable (-Dgraft.bench.out / env) because
    // the CWD-relative default is only meaningful when the driver runs from
    // the repo root. target/ is gitignored scratch — best effort.
    val outPath = sys.props.get("graft.bench.out")
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("target/bench_full.json")
    // BENCH_full_latest.json additionally lands at the repo root so the
    // per-query seconds SURVIVE the round: target/ is gitignored scratch
    // and the driver's tail capture keeps only the compact line, which
    // made round-over-round per-query trending impossible twice (r7→r8).
    // The next round commits it as BENCH_full_r{N}.json.
    (Seq(outPath, "BENCH_full_latest.json")).foreach { path =>
      try {
        val p = java.nio.file.Paths.get(path)
        if (p.getParent != null)
          java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: $e")
      }
    }
    // The full line above now exceeds the driver's tail-capture window (67
    // per-query timings + shuffle map truncate its head -> unparseable), so
    // ALSO emit a compact total-only record LAST: the tail always contains a
    // complete JSON line. n_queries/failed make a silently-shrunk suite
    // visible in the compact record too.
    val failed = results.count(_._2 < 0)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"failed":$failed,"contended":${contendedNames.size}}""")
    spark.stop()
  }
}
