package graft.analytics

import graft.{QuerySurface, SparkEntry, SparkSpec}

/** Smoke + plan-shape checks for the analytics surface. Value correctness is
  * the DuckDB oracle's job (tools/oracle_check.py); here we pin the physical
  * plans we want at scale: broadcasts where a side is small, pushed filters at
  * the parquet scan. "No cartesian product anywhere" is PlanInvariantsSpec's,
  * over the executed plans.
  */
class AnalyticsSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("every declared query runs and returns rows at sf0.001") {
    QuerySurface(spark, sf).foreach { case (name, e) =>
      assert(e.rows > 0, s"$name returned no rows")
    }
  }

  test("every query has an oracle or is explicitly rows-only") {
    // rows-only by design — NONE left. The whole hash-family/LSH/k-means
    // tail left this list in round 14: Verify lands each query's model
    // state — signatures, planes, centroids, codebooks, coded lists — as
    // parquet side-inputs under outDir/_side/, and generated DuckDB
    // oracles replay the serving arithmetic from them; see
    // SparkEntry.sideInputs. q_text_langid left in round 11,
    // q_quant_recall in round 13, and q_approx_distinct (the last
    // survivor — a DataSketches HLL estimate) in round 17 via a
    // side-input oracle that checks the exact column independently and
    // the estimate column for reproducibility.
    val rowsOnly = Set.empty[String]
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == rowsOnly, s"unexpected oracle coverage drift: " +
      s"missing=${noOracle -- rowsOnly} newly-covered=${rowsOnly -- noOracle}")
  }

  test("every side-input writer backs a registered generated oracle") {
    SparkEntry.sideInputs.keySet.foreach { name =>
      assert(SparkEntry.queries.contains(name),
        s"side-input '$name' has no matching query")
      val sql = SparkEntry.oracleSql.getOrElse(name,
        fail(s"side-input '$name' has no matching oracle"))
      assert(sql.contains(s"{OUT_DIR}/_side/$name/"),
        s"oracle for '$name' does not read its own side-input")
    }
  }

  test("q6_filter pushes its predicates into the parquet scan") {
    val p = plan("q6_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
           p.contains("IsNotNull(l_shipdate)"), p)
  }

  test("q3_join broadcasts the filtered customer dimension") {
    assert(plan("q3_join").contains("BroadcastHashJoin"))
  }

  test("q5_join broadcasts nation and region") {
    val p = plan("q5_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q_anti_join plans a broadcast anti join, not a shuffle of customer") {
    val p = plan("q_anti_join")
    assert(p.contains("LeftAnti"), p)
  }

  test("driver smoke: entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
