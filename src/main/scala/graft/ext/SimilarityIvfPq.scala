package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Workspace

import graft.functions.VectorFunctions.{centroid_topn, dot_product, pq_adc, pq_lut}
import graft.sources.Tables

/** IVF-PQ — the composed FAISS architecture, built from this engine's two
  * halves: [[SimilarityIvf]]'s coarse inverted lists bound WHAT is scanned
  * (nProbe of nList partition-pruned directories), and [[SimilarityPq]]'s
  * codes bound WHAT EACH ROW COSTS (m byte-codes + an O(m) ADC lookup
  * instead of 4·dim bytes + an O(dim) dot product). Together a query reads
  * |corpus|·nProbe/nList rows of ~32×-compressed codes — the only layout
  * that serves ANN from a 100 TB vector corpus without either a full scan
  * or a full-precision replica.
  *
  * PQ here quantizes RESIDUALS (x − centroid[list(x)]), the FAISS design:
  * residuals are centered near zero with far less variance than raw
  * vectors, so the same m×ksub codebook budget buys a finer quantization.
  * Scoring decomposes exactly: dot(q, x) = dot(q, c) + dot(q, r) — the
  * first term is per-(query, probed-list) driver-free math on the
  * broadcast probe table, the second is the ADC estimate from the shared
  * residual codebook (one LUT per query, reused across all probed lists).
  * Exact cosine re-ranking over the top candidates then repairs both the
  * quantization error and the dot-vs-cosine gap.
  */
object SimilarityIvfPq {

  /** Corpus rows annotated with their coarse list and residual vector. */
  private def withResiduals(indexed: DataFrame,
                            centroids: DataFrame): DataFrame =
    indexed
      .join(broadcast(centroids.select(col("centroid_id").as("list_id"),
        col("centroid"))), "list_id")
      .withColumn("resid",
        zip_with(col("embedding"), col("centroid"), (x, y) => x - y))
      .drop("centroid")

  /** Train coarse + fine quantizers and land the full artifact:
    * `centroids` (nList rows), `codebook` (m·ksub rows), and the coded
    * corpus partitioned BY LIST on disk — (vec_id, codes) only, embeddings
    * projected away. Serve-time probes become partition-pruned scans of
    * ~32×-compressed rows. */
  def writeIndex(corpus: DataFrame, nList: Int, m: Int, ksub: Int,
                 dir: String, nItersIvf: Int = 2, nItersPq: Int = 2): Unit = {
    val centroids = SimilarityIvf.train(corpus, nList, nItersIvf)
    val resid = withResiduals(SimilarityIvf.index(corpus, centroids),
      centroids)
    val cb = SimilarityPq.train(resid, m, ksub, nItersPq, embCol = "resid")
    centroids.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/centroids")
    SimilarityPq.encode(resid, cb, m, ksub, embCol = "resid")
      .select(col("vec_id"), col("list_id"), col("codes"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/lists")
    writeCodebook(corpus.sparkSession, cb, m, ksub, s"$dir/codebook")
  }

  private def writeCodebook(spark: SparkSession, cb: Array[Float], m: Int,
                            ksub: Int, path: String): Unit = {
    import spark.implicits._
    val dsub = cb.length / (m * ksub)
    (for (j <- 0 until m; c <- 0 until ksub) yield {
      val base = (j * ksub + c) * dsub
      (j, c, (base until base + dsub).map(cb(_)))
    }).toDF("j", "code", "vec")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readCodebook(spark: SparkSession,
                           path: String): (Array[Float], Int, Int) = {
    val rows = spark.read.parquet(path).orderBy(col("j"), col("code"))
      .collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val dsub = rows.head.getSeq[Float](2).length
    val cb = new Array[Float](m * ksub * dsub)
    rows.foreach { r =>
      val base = (r.getInt(0) * ksub + r.getInt(1)) * dsub
      val v = r.getSeq[Float](2)
      var d = 0
      while (d < dsub) { cb(base + d) = v(d); d += 1 }
    }
    (cb, m, ksub)
  }

  /** Serve top-k from the landed artifact. Per query: the fused
    * centroid_topn kernel picks nProbe lists map-side; the probe table
    * (query × probed list, carrying dot(q, centroid) and the query's ADC
    * LUT) broadcasts against the partition-pruned code scan; candidates
    * are scored dot(q,c) + ADC(r) in O(m) each; the top rerankK per query
    * go through [[SimilarityPq.exactRerank]] against the full-precision
    * `corpus`. */
  def serveTopK(queries: DataFrame, indexDir: String, corpus: DataFrame,
                k: Int, nProbe: Int, rerankK: Int): DataFrame = {
    require(rerankK >= k, s"rerankK=$rerankK < k=$k")
    val spark = queries.sparkSession
    val centRows = spark.read.parquet(s"$indexDir/centroids")
      .select(col("centroid_id"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).sortBy(_._1)
    val ids = centRows.map(_._1)
    val flat = centRows.flatMap(_._2)
    val (cb, m, ksub) = readCodebook(spark, s"$indexDir/codebook")
    import spark.implicits._
    val centDf = centRows.toSeq.toDF("list_id", "centroid")
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .select(col("query_id"), col("q_emb"),
        explode(centroid_topn(col("q_emb"), flat, ids, nProbe)).as("sc"))
      .select(col("query_id"), col("q_emb"),
        col("sc.centroid_id").as("list_id"))
      .join(broadcast(centDf), "list_id")
      .select(col("query_id"), col("list_id"),
        dot_product(col("q_emb"), col("centroid")).as("c_dot"),
        pq_lut(col("q_emb"), cb, m, ksub).as("lut"))
    // probed-list ids: bounded driver state (≤ |Q|·nProbe ints), pushed
    // into the scan as a partition filter — only those dirs are read
    val probed = probes.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val cands = spark.read.parquet(s"$indexDir/lists")
      .filter(col("list_id").isin(probed: _*))
      .join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("c_dot") + pq_adc(col("codes"), col("lut"), ksub)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val shortlist = cands.withColumn("rank",
        row_number().over(w))
      .filter(col("rank") <= rerankK)
    SimilarityPq.exactRerank(queries, shortlist, corpus, k)
  }

  /** q_sim_ivfpq — the full landed IVF-PQ loop on the embeddings table:
    * build the artifact (coarse nList=16, residual PQ m=8 ksub=16), serve
    * top-5 probing 6 lists with 20-candidate exact re-rank. Hash-matched
    * against a generated DuckDB oracle that reads the landed artifact
    * (centroids + residual codebook + coded lists — [[sides]]) and
    * REPLAYS the whole serve path: nProbe probe selection (cosine desc,
    * ties to the smaller centroid id), the per-(query, list) dot(q, c)
    * term, the per-query LUT with its double→float rounding, ADC scoring
    * over exactly the probed lists' rows, the top-rerankK cut and the
    * exact cosine re-rank. Training stays Spark-side, reproducible via
    * [[SimilarityPq.snap]], so the side-input equals the query run's own
    * in-query artifact; recall and the artifact layout stay pinned in
    * SimilarityIvfPqSpec. */
  def qIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val tmp = Workspace.dir("graft_ivfpq_")
    writeIndex(emb, nList = 16, m = 8, ksub = 16, tmp)
    serveTopK(emb.filter(col("vec_id") < 10), tmp, emb,
        k = 5, nProbe = 6, rerankK = 20)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_ivfpq" -> (qIvfPq _))

  /** Oracle side-inputs: the landed IVF-PQ artifact (centroids, residual
    * codebook, coded lists — the lists FLAT rather than
    * partitionBy(list_id) so one read_parquet glob reaches them). Same
    * training calls as [[qIvfPq]]'s in-query build; [[SimilarityPq.snap]]
    * makes the two runs produce identical artifacts. */
  val sides: Map[String, (SparkSession, String, String) => Unit] = Map(
    "q_sim_ivfpq" -> ((spark: SparkSession, sfDir: String, dir: String) => {
      val emb = Tables.embeddings(spark, sfDir)
      val centroids = SimilarityIvf.train(emb, nList = 16, nIters = 2)
      val resid = withResiduals(SimilarityIvf.index(emb, centroids),
        centroids)
      val cb = SimilarityPq.train(resid, 8, 16, nIters = 2,
        embCol = "resid")
      centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/centroids")
      writeCodebook(spark, cb, 8, 16, s"$dir/codebook")
      SimilarityPq.encode(resid, cb, 8, 16, embCol = "resid")
        .select(col("vec_id"), col("list_id"), col("codes"))
        .write.mode("overwrite").parquet(s"$dir/lists")
    }))

  val oracles: Map[String, String] = Map(
    "q_sim_ivfpq" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (
        |  SELECT centroid_id, CAST(centroid AS DOUBLE[]) AS cvec
        |  FROM read_parquet('{OUT_DIR}/_side/q_sim_ivfpq/centroids/*.parquet')),
        |cb AS (
        |  SELECT j, code, CAST(vec AS DOUBLE[]) AS vec
        |  FROM read_parquet('{OUT_DIR}/_side/q_sim_ivfpq/codebook/*.parquet')),
        |lists AS (
        |  SELECT vec_id, list_id, codes
        |  FROM read_parquet('{OUT_DIR}/_side/q_sim_ivfpq/lists/*.parquet')),
        |queries AS (SELECT vec_id AS query_id, emb FROM base WHERE vec_id < 10),
        |probes AS (
        |  SELECT query_id, centroid_id AS list_id, emb FROM (
        |    SELECT q.query_id, c.centroid_id, q.emb, ROW_NUMBER() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_inner_product(q.emb, c.cvec) /
        |          sqrt(list_inner_product(q.emb, q.emb) *
        |            list_inner_product(c.cvec, c.cvec)) DESC,
        |        c.centroid_id) AS rn
        |    FROM queries q CROSS JOIN cents c) WHERE rn <= 6),
        |cdot AS (
        |  SELECT p.query_id, p.list_id,
        |    list_inner_product(p.emb, c.cvec) AS c_dot
        |  FROM probes p JOIN cents c ON c.centroid_id = p.list_id),
        |lut AS (
        |  SELECT q.query_id, cb.j, cb.code,
        |    CAST(CAST(list_inner_product(q.emb[cb.j*8+1 : cb.j*8+8], cb.vec)
        |      AS REAL) AS DOUBLE) AS lv
        |  FROM queries q CROSS JOIN cb),
        |adc AS (
        |  SELECT p.query_id, l.list_id, l.vec_id, SUM(lu.lv) AS adc_s
        |  FROM probes p
        |  JOIN lists l ON l.list_id = p.list_id
        |  JOIN (SELECT unnest(range(0, 8)) AS j) js ON true
        |  JOIN lut lu ON lu.query_id = p.query_id AND lu.j = js.j
        |    AND lu.code = l.codes[js.j + 1]
        |  WHERE l.vec_id <> p.query_id
        |  GROUP BY p.query_id, l.list_id, l.vec_id),
        |top20 AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT a.query_id, a.vec_id, ROW_NUMBER() OVER (
        |      PARTITION BY a.query_id
        |      ORDER BY cd.c_dot + a.adc_s DESC, a.vec_id) AS rn
        |    FROM adc a JOIN cdot cd
        |      ON cd.query_id = a.query_id AND cd.list_id = a.list_id)
        |  WHERE rn <= 20),
        |rerank AS (
        |  SELECT t.query_id, e.vec_id,
        |    list_inner_product(q.emb, e.emb) /
        |      sqrt(list_inner_product(q.emb, q.emb) *
        |        list_inner_product(e.emb, e.emb)) AS cs
        |  FROM top20 t JOIN base e ON e.vec_id = t.vec_id
        |  JOIN base q ON q.vec_id = t.query_id)
        |SELECT query_id, rank, vec_id, score FROM (
        |  SELECT query_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank,
        |    vec_id, ROUND(cs, 6) AS score
        |  FROM rerank) WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)
}
