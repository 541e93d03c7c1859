package wxbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Output checks of one run. Each check counts as one attempted
  * operation and a failed check as one failed operation, so a wrong
  * result shows in the failure count even when every call returned. */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer[String]()

  def apply(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[wxbench] check $name threw: $e"); false
    }
    if (!r) {
      failed += 1
      if (failures.size < 50) failures += name
      System.err.println(s"[wxbench] check failed: $name")
    }
    r
  }
}

/** What a workload can see: the session, its own scratch root, the seed,
  * the size preset, the recorder and the checks. */
final case class Ctx(spark: SparkSession, root: String, seed: Long,
                     tiny: Boolean, rec: Recorder, checks: Checks)

/** A workload is set up several times (the median is `setup_s`; only the
  * last set-up is used afterwards), warms up, runs its timed rounds, then
  * checks its final state. */
trait Workload {
  def setup(ctx: Ctx, rep: Int): Unit
  /** Output checks of set-up `rep`, run after its timing stops. */
  def checkSetup(ctx: Ctx, rep: Int): Unit = ()
  /** Wall time of one warm round on four cores; with `--seconds` it fixes
    * how many rounds a run times, so every run of a given length does
    * the same work whatever the speed of the code under test. */
  def nominalRoundS: Double
  /** Every run times at least this many rounds. */
  def minRounds: Int = 3
  /** Untimed work after the last set-up and before the timed rounds: by
    * default one round, numbered -1, which metrics leave out. */
  def warmup(ctx: Ctx): Unit = round(ctx, -1)
  def round(ctx: Ctx, r: Int): Unit
  /** Bytes of every file under the table directory per live row; 0 for
    * a workload without a table. */
  def storedBytesPerRow: Double = 0.0
  /** The benchmark's own state on the heap (expected-state models,
    * baselines); its size is left out of `live_heap_mb`. */
  def model: AnyRef
  /** Final checks; returns the workload's own per-layer metrics. */
  def finish(ctx: Ctx): Map[String, Double]
  /** Extra facts for the run artifact. */
  def artifact: Map[String, Any] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("ingest_fanout", "lake_mixed", "analytics_mix")

  def apply(name: String): Workload = name match {
    case "ingest_fanout" => new IngestFanout
    case "lake_mixed" => new LakeMixed
    case "analytics_mix" => new AnalyticsMix
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (have: ${names.mkString(", ")})")
  }

  /** Size of every regular file under `dir` that `keep` accepts, by path. */
  def files(dir: String, keep: java.nio.file.Path => Boolean = _ => true)
      : Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) && keep(f))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Bytes of every regular file under `dir` that `keep` accepts, and
    * the files' count. */
  def dirBytes(dir: String, keep: java.nio.file.Path => Boolean = _ => true)
      : (Long, Int) = {
    val fs = files(dir, keep)
    (fs.values.sum, fs.size)
  }

  def isDataFile(f: java.nio.file.Path): Boolean = {
    val n = f.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".")
  }
}
