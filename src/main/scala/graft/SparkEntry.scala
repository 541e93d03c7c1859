package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.analytics.{Advanced, Cdc, Events, Funnel, GraphOps, Incremental, Profiling, Relational, RelationalExtra, ScaleOps, TableDiff}
import graft.ext.{Curation, DedupCluster, DedupIndex, DedupOps, LangModel, LineDedup, Mixing, Multimodal, Quantize, Ranking, SemDedup, Similarity, SimilarityIvf, SimilarityIvfPq, SimilarityPq, Splits, SubstrDedup, TextAnalysis, TextNormalize}
import graft.operators.AsOf
import graft.sources.TableStream
import graft.pipeline.WeatherQueries
import graft.sinks.{Bucketing, IncrementalView, LakeQueries, SchemaEvolution}
import graft.sql.{Mview, SqlQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries and oracles are assembled from the per-module maps; each module
  * keeps its Spark definition and its DuckDB oracle side by side so the
  * column aliases stay aligned (the driver sorts columns by name before
  * hashing).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.defs ++ RelationalExtra.defs ++ Advanced.defs ++ Events.defs ++
      ScaleOps.defs ++ GraphOps.defs ++ Incremental.defs ++ Profiling.defs ++
      Cdc.defs ++ TableDiff.defs ++ Funnel.defs ++
      TextAnalysis.defs ++ TextNormalize.defs ++
      DedupOps.defs ++ DedupCluster.defs ++ DedupIndex.defs ++
      LineDedup.defs ++
      SubstrDedup.defs ++ LangModel.defs ++ Splits.defs ++
      Ranking.defs ++ Curation.defs ++ Mixing.defs ++
      Similarity.defs ++ SimilarityIvf.defs ++ SimilarityPq.defs ++
      SimilarityIvfPq.defs ++
      SemDedup.defs ++ Quantize.defs ++
      Multimodal.defs ++ Bucketing.defs ++ SchemaEvolution.defs ++
      LakeQueries.defs ++ IncrementalView.defs ++ TableStream.defs ++
      SqlQueries.defs ++ Mview.defs ++
      AsOf.defs ++ Map(
      "q_weather_transform" -> (WeatherQueries.qTransform _),
      "q_weather_idempotent" -> (WeatherQueries.qIdempotent _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver's rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ RelationalExtra.oracles ++ Advanced.oracles ++
      Events.oracles ++ ScaleOps.oracles ++ GraphOps.oracles ++
      Incremental.oracles ++ Profiling.oracles ++ Cdc.oracles ++
      TableDiff.oracles ++ Funnel.oracles ++
      TextAnalysis.oracles ++ TextNormalize.oracles ++
      DedupOps.oracles ++ DedupCluster.oracles ++ DedupIndex.oracles ++
      SemDedup.oracles ++ LineDedup.oracles ++
      SubstrDedup.oracles ++ LangModel.oracles ++ Splits.oracles ++
      Ranking.oracles ++
      Curation.oracles ++
      Mixing.oracles ++ Similarity.oracles ++ Quantize.oracles ++
      SimilarityIvf.oracles ++ SimilarityPq.oracles ++
      SimilarityIvfPq.oracles ++
      Multimodal.oracles ++ Bucketing.oracles ++ SchemaEvolution.oracles ++
      LakeQueries.oracles ++ IncrementalView.oracles ++ TableStream.oracles ++
      SqlQueries.oracles ++ Mview.oracles ++
      AsOf.oracles ++ WeatherQueries.oracles

  /** Parquet side-inputs for GENERATED oracles: query name → writer that
    * lands model-state tables (MinHash signatures, SimHash values, PQ
    * codebooks, IVF centroids + coded lists) under
    * `<outDir>/_side/<name>/`. The matching [[oracleSql]] entry replays
    * the serving arithmetic from them via `read_parquet`, with the
    * `{OUT_DIR}` placeholder substituted by [[Verify]] at dump time —
    * the pattern that converts deterministic-but-not-SQL-expressible
    * internals (hash families, trained quantizers) from rows-only checks
    * into full hash-matched oracles. */
  def sideInputs: Map[String, (SparkSession, String, String) => Unit] =
    RelationalExtra.sides ++
      DedupOps.sides ++ DedupIndex.sides ++ SemDedup.sides ++
      Similarity.sides ++ SimilarityIvf.sides ++
      SimilarityPq.sides ++ SimilarityIvfPq.sides
}
