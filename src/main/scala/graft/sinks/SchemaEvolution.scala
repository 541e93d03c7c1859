package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graft.Workspace

import graft.analytics.Parity
import graft.sources.Tables

/** Schema evolution on a landed table — the data-lake capability a long-
  * lived 100 TB landing cannot live without: batches land for years, the
  * schema GROWS (new telemetry fields), and history must stay readable
  * without rewriting petabytes of old files.
  *
  * Parquet makes additive evolution free at the file level (each file
  * carries its own schema in the footer); the engine's job is the read
  * side. Two modes:
  * - `discoverSchema` (mergeSchema): Spark samples every footer and unions
  *   the schemas — correct, but footer-sampling cost grows with file
  *   count, so at scale it is a SCHEMA-DISCOVERY tool, not a per-query
  *   habit.
  * - `evolvedRead(schema)`: the union schema is passed explicitly (from
  *   the catalog / a prior discovery), no footer sampling; files missing a
  *   column yield NULL for it — old rows read as if the column were
  *   always there, unset.
  */
object SchemaEvolution {

  /** Union schema across all landed files — footer sampling; run once per
    * evolution event, catalog the result. */
  def discoverSchema(spark: SparkSession, path: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(path).schema

  /** Read the landing under an explicit (evolved) schema: no footer
    * sampling, absent columns surface as NULL. */
  def evolvedRead(spark: SparkSession, path: String,
                  schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** q_schema_evolution — the evolution loop end to end: the v1 half of
    * events lands with 3 columns, the v2 half lands alongside with a new
    * `props_len` column, and the evolved read aggregates across BOTH
    * vintages — `n_v2`/`len_sum` count and sum only where the column
    * exists, proving v1 rows read as NULL rather than erroring or leaking
    * garbage. The oracle recomputes from the raw table with the vintage
    * rule inlined, so a hash match pins the whole land→evolve→read path. */
  def qSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val dir = Workspace.dir("graft_evolve_")
    // v1 vintage: the original schema
    ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("append").parquet(dir)
    // v2 vintage: schema grew a column; history is NOT rewritten
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("value"),
        length(col("props")).as("props_len"))
      .write.mode("append").parquet(dir)
    val unioned = discoverSchema(spark, dir)
    evolvedRead(spark, dir, unioned)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value")), 2).as("sum_v"),
        count(col("props_len")).as("n_v2"),
        sum(col("props_len")).cast("long").as("len_sum"))
      .orderBy(col("event_type"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_schema_evolution" -> (qSchemaEvolution _))

  val oracles: Map[String, String] = Map(
    "q_schema_evolution" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_v,
        |  COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_v2,
        |  CAST(SUM(CASE WHEN event_id % 2 = 1 THEN length(props) END)
        |    AS BIGINT) AS len_sum
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
}
