package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Workspace

/** The whole driver query surface, executed once per test JVM. Each entry
  * holds a query's executed (AQE-final) plan text and its collected row
  * count; every suite that asserts a property of every query reads this
  * map instead of running the surface again. Under adaptive execution the
  * final plan only exists after the query runs, and its text prints the
  * Final and the Initial plan, so a plan property checked here covers both.
  * Each query runs in its own [[Workspace.scoped]], as in Bench and Verify.
  */
object QuerySurface {

  final case class Executed(plan: String, rows: Long)

  private var executed: Map[String, Executed] = _

  def apply(spark: SparkSession, sf: String): Map[String, Executed] =
    synchronized {
      if (executed == null)
        executed = SparkEntry.queries.map { case (name, fn) =>
          name -> Workspace.scoped(spark) {
            val df = fn(spark, sf)
            val rows = df.collect().length.toLong
            Executed(df.queryExecution.executedPlan.toString, rows)
          }
        }
      executed
    }
}
