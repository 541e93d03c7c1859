package graft

/** Global physical-plan invariants over the ENTIRE driver query surface —
  * the regression canary for scale-readiness claims: any future query that
  * sneaks in a cartesian product or falls out of whole-stage codegen fails
  * here by name, not in a 100 TB postmortem.
  */
class PlanInvariantsSpec extends SparkSpec {

  /** Executed (AQE-final) plans: under adaptive execution the pre-execution
    * tree is the INITIAL plan — codegen collapse and runtime join changes
    * only appear after the query actually runs (sf0.001, cheap, once per
    * JVM in [[QuerySurface]]). */
  private def plans: Map[String, String] =
    QuerySurface(spark, sf).map { case (name, e) => name -> e.plan }

  test("no query plans a cartesian product") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("every query stays (at least partially) inside whole-stage codegen") {
    // codegen spans print as `*(id) Operator` in the tree string
    val offenders = plans.collect {
      case (n, p) if !p.contains("*(") => n
    }
    assert(offenders.isEmpty, s"no codegen span in: $offenders")
  }

  test("no query shuffles more than 12 times (shuffle-count regression canary)") {
    // distinct AQE shuffle stages — the raw "Exchange" substring count would
    // double-count ReusedExchange and stage wrappers
    val counts = plans.map { case (n, p) =>
      n -> "ShuffleQueryStage (\\d+)".r.findAllMatchIn(p)
        .map(_.group(1)).toSet.size
    }
    val offenders = counts.filter(_._2 > 12)
    assert(offenders.isEmpty,
      s"shuffle-heavy plans: $offenders (worst ok: ${counts.maxBy(_._2)})")
  }

  test("no executed plan's text exceeds 1 MB (plan-size canary)") {
    // a plan that embeds data (a literal filter, a collected side) prints it
    // in every plan string, AQE update and SQL status-store entry
    val sizes = plans.map { case (n, p) => n -> p.length }
    val offenders = sizes.filter(_._2 > (1 << 20))
    assert(offenders.isEmpty,
      s"oversized plans: $offenders (largest: ${sizes.maxBy(_._2)})")
  }
}
