package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graft.Workspace

import graft.operators.{BloomJoin, Salting}
import graft.sources.Tables

/** Scale-pattern operators: the shapes that decide whether a plan survives
  * 100× data growth — pre-shuffle reduction (bloom-filtered joins), bounded
  * per-group state (mergeable sampling / heavy-hitter summaries), and
  * map-side restructuring (token-window chunking). Each has an exact DuckDB
  * oracle; the scale mechanism itself (shuffle cut, state bound) is pinned
  * by specs.
  */
object ScaleOps {

  /** q_bloom_join — large-large equi-join with the big side bloom-pre-
    * filtered on the selective build side's keys ([[BloomJoin]]): lineitems
    * of urgent pre-1997 orders (~6% of orders). The bloom probe is map-side
    * in the lineitem scan stage, so only probable matches reach the join
    * shuffle; the exact join then makes false positives irrelevant — the
    * oracle is the PLAIN join, and it hash-matches at any fpp. */
  def qBloomJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    BloomJoin.bloomJoin(li, col("l_orderkey"), urgent, col("o_orderkey"),
        expectedItems = 1L << 20, fpp = 0.01)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_lines"),
        round(Parity.decSum2(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("yr"))
  }

  /** q_sample_group — k-per-group deterministic sample via the bottom-k-by-
    * hash aggregator ([[graft.functions.BottomKByHashAgg]]): 8 docs per
    * language, ranked by md5(doc_id). The oracle is the ROW_NUMBER window
    * formulation — identical rows, but the aggregator keeps ≤ k entries of
    * state per group on every path where the window sorts the whole group
    * through the shuffle. */
  def qSampleGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val sampler = udaf(new graft.functions.BottomKByHashAgg(8))
    Tables.documents(spark, sfDir)
      .select(col("lang"), md5(col("doc_id").cast("string")).as("h"),
        col("doc_id"))
      .groupBy(col("lang"))
      .agg(sampler(col("h"), col("doc_id")).as("sample"))
      .select(col("lang"), posexplode(col("sample")).as(Seq("p", "doc_id")))
      .select(col("lang"), (col("p") + 1).cast("long").as("rk"),
        col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** q_skew_join — skewed-key join via the deterministic salting operator
    * ([[Salting.saltedJoin]], already spec-proven in SaltingSpec — this
    * query puts it under the DuckDB oracle too): events (the skewed side —
    * event_type has 5 values, so every key is hot) joined to a per-type
    * weight dim with the key spread across 8 salted reducers. The dim is
    * shuffle-hash-hinted so the query exercises the actual skew mechanism
    * (a broadcastable dim would broadcast and dodge the problem salting
    * exists for — large-large joins where AQE's sort-merge-only skew split
    * can't help). The oracle is the plain unsalted join: hash-match proves
    * salting is row-preserving. */
  def qSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // integer-valued weights: the event values carry two decimals, so a
    // fractional weight would mint three-decimal products sitting exactly
    // on .005 — where Spark's and DuckDB's double→DECIMAL(18,2) roundings
    // of the same binary double disagree. Integer scaling adds no digits.
    val dim = Seq(("click", 1.0), ("error", 0.0), ("purchase", 10.0),
        ("signup", 5.0), ("view", 2.0)).toDF("event_type", "weight")
      .hint("shuffle_hash")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    Salting.saltedJoin(ev, dim, "event_type", factor = 8,
        uniqueCols = Seq("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum2(col("value") * col("weight")), 2).as("wsum"))
      .orderBy(col("event_type"))
  }

  /** q_topk_group — per-group top-k WITHOUT a group-wide sort, via the
    * bounded-heap [[graft.functions.TopKByScoreAgg]]: the 3 highest-value
    * events per event type. The oracle is the ROW_NUMBER window formulation
    * — identical rows, but the aggregator keeps ≤ k (score, id) pairs of
    * state per group on every path (map-side partials discard
    * non-contenders; the shuffle carries ≤ k·|groups| pairs) where the
    * window sorts every row of a hot group through one reducer. */
  def qTopkGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKByScoreAgg(3))
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"), col("event_id"))
      .groupBy(col("event_type"))
      .agg(topk(col("value"), col("event_id")).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("event_type"), (col("p") + 1).cast("long").as("rk"),
        col("t._1").as("value"), col("t._2").as("event_id"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** q_chunk — sliding token-window chunking ([[graft.ext.Chunking]]):
    * 32-token windows every 24 tokens over the documents corpus, output as
    * (doc_id, chunk_id, n_tok, chunk md5). Entirely map-side — the chunk
    * fingerprint makes the oracle compare content, not just counts. */
  def qChunk(spark: SparkSession, sfDir: String): DataFrame = {
    // single-file landing = 1-task scan stage: hash-spread the corpus to
    // core count before the tokenize→window map work (identity at scale,
    // see [[graft.operators.Parallelism]]), so both the range-sort's
    // sample pass and the real pass tokenize in parallel
    val docs = graft.operators.Parallelism.floor(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      col("doc_id"))
    graft.ext.Chunking.chunkTokens(docs,
        graft.ext.TextAnalysis.tokens(col("text")), size = 32, stride = 24,
        keep = Seq(col("doc_id")))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** q_heavy_hitters — per-day top-2 event types via the SpaceSaving
    * summary ([[graft.functions.SpaceSavingAgg]]). Capacity 32 ≥ the
    * event-type cardinality, so the sketch's eviction path never fires and
    * its counts are EXACT — which is what makes an approximate-by-design
    * summary oracle-able; behavior under capacity pressure (the n/capacity
    * error bound) is spec-pinned instead. */
  def qHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val hh = udaf(new graft.functions.SpaceSavingAgg(32))
    Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string").as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(hh(col("event_type")).as("top"))
      .select(col("day"), posexplode(slice(col("top"), 1, 2)).as(Seq("p", "t")))
      .select(col("day"), (col("p") + 1).cast("long").as("rk"),
        col("t._1").as("event_type"), col("t._2").as("cnt"))
      .orderBy(col("day"), col("rk"))
  }

  /** q_zorder_scan — round-trips events through the z-order layout writer
    * ([[graft.sinks.Layout]]: quantile rank buckets → Morton code → one
    * range shuffle) and aggregates a 2-D box filter off the rewritten
    * copy. The oracle runs the same filter on the ORIGINAL table, so a
    * hash-match proves the layout rewrite is row-preserving end-to-end;
    * the data-skipping effect itself (scan metrics dropping) is pinned by
    * LayoutSpec. */
  def qZorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    // unique dir per invocation: two concurrent suites over the same sfDir
    // must not race on overwrite-while-read of a shared path
    val dir = Workspace.dir("graft_zorder_")
    graft.sinks.Layout.writeZordered(ev, Seq("user_id", "value"), dir,
      numFiles = 8, bitsPerDim = 6)
    spark.read.parquet(dir)
      .filter(col("user_id").between(3, 9) &&
        col("value").between(10.0, 60.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("id_sum"),
        round(Parity.decSum2(col("value")), 2).as("val_sum"))
      .orderBy(col("event_type"))
  }

  /** q_dpp_scan — dynamic partition pruning over a date-partitioned
    * landing: events are landed `partitionBy(day)` (the layout a 100 TB
    * event table ships with), the day dimension is landed separately with
    * a hot flag, and the join's runtime then prunes the fact scan to the
    * dim's surviving partitions BEFORE reading them — the broadcast's key
    * set becomes a partition filter (`dynamicpruning` subquery in the scan,
    * spec-asserted). Static pruning can't do this: the hot-day set only
    * exists at runtime, after the dim filter. The oracle applies the
    * equivalent static predicate (Mondays) to the original table, so a
    * hash match proves the pruned scan loses no rows. */
  def qDppScan(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
    val base = Workspace.dir("graft_dpp_")
    val factDir = s"$base/fact"
    val dimDir = s"$base/dim"
    ev.write.partitionBy("day").parquet(factDir)
    // dayofweek: 1=Sunday … 2=Monday (oracle uses DuckDB's 0=Sunday form).
    // The flag is kept as the raw dow INT and filtered `=== 2` at query
    // time: a pre-computed boolean would simplify to a bare attribute
    // predicate, which Spark's isLikelySelective() check rejects for DPP.
    ev.select(col("day")).distinct()
      .withColumn("dow", dayofweek(col("day")))
      .write.parquet(dimDir)
    dppJoin(spark, factDir, dimDir)
  }

  /** The join half of [[qDppScan]], separated so the spec can assert the
    * pruning subquery on exactly the plan the query runs. */
  private[graft] def dppJoin(spark: SparkSession, factDir: String,
                             dimDir: String): DataFrame =
    spark.read.parquet(factDir)
      .join(spark.read.parquet(dimDir).filter(col("dow") === 2), "day")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(Parity.decSum(col("value"), 4), 4).as("sum_v"))
      .orderBy(col("event_type"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dpp_scan" -> (qDppScan _),
    "q_bloom_join" -> (qBloomJoin _),
    "q_sample_group" -> (qSampleGroup _),
    "q_topk_group" -> (qTopkGroup _),
    "q_skew_join" -> (qSkewJoin _),
    "q_chunk" -> (qChunk _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_zorder_scan" -> (qZorderScan _))

  val oracles: Map[String, String] = Map(
    // DuckDB dayofweek: 0=Sunday, 1=Monday — the engine's hot-day flag is
    // Spark dayofweek()==2, the same calendar Mondays
    "q_dpp_scan" ->
      """SELECT event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v
        |FROM events
        |WHERE dayofweek(CAST(ts AS DATE)) = 1
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_bloom_join" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |  COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |ORDER BY yr""".stripMargin,
    "q_sample_group" ->
      """SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 8
        |ORDER BY lang, rk""".stripMargin,
    "q_skew_join" ->
      """WITH dim(event_type, weight) AS (VALUES
        |  ('click', 1.0), ('error', 0.0), ('purchase', 10.0),
        |  ('signup', 5.0), ('view', 2.0))
        |SELECT e.event_type, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(e.value * CAST(d.weight AS DOUBLE)
        |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS wsum
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,
    "q_topk_group" ->
      """SELECT event_type, rk, value, event_id FROM (
        |  SELECT event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events)
        |WHERE rk <= 3
        |ORDER BY event_type, rk""".stripMargin,
    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 32 THEN 1
        |         ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS BIGINT) + 1
        |    END AS n_chunks
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, n_chunks - 1)) AS i
        |  FROM c)
        |SELECT doc_id, i AS chunk_id,
        |  len(toks[(i*24 + 1):(i*24 + 32)]) AS n_tok,
        |  md5(array_to_string(toks[(i*24 + 1):(i*24 + 32)], ' ')) AS chunk_md5
        |FROM e
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT day, event_type, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY day
        |      ORDER BY cnt DESC, event_type) AS rk
        |  FROM c)
        |SELECT day, rk, event_type, cnt FROM r
        |WHERE rk <= 2
        |ORDER BY day, rk""".stripMargin,
    "q_zorder_scan" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS val_sum
        |FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 10.0 AND 60.0
        |GROUP BY 1
        |ORDER BY event_type""".stripMargin)
}
