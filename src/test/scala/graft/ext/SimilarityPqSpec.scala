package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

class SimilarityPqSpec extends SparkSpec {

  private val (m, ksub) = (8, 16)
  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val cb = SimilarityPq.train(emb, m, ksub, nIters = 2)

  test("training is a pure function of the data — partition order does " +
      "not leak (the property the side-input oracle replay stands on)") {
    // Lloyd means are double sums; without the 2^-10 snap, a different
    // partitioning reorders the accumulation and the codebook differs in
    // the last ulp — which the generated DuckDB oracle would read as a
    // different model than the query run trained. Re-train under three
    // partitionings and demand BIT-identical codebooks.
    val a = SimilarityPq.train(emb, m, ksub, nIters = 2)
    val b = SimilarityPq.train(emb.repartition(7), m, ksub, nIters = 2)
    val c = SimilarityPq.train(emb.coalesce(1), m, ksub, nIters = 2)
    assert(java.util.Arrays.equals(a, b),
      "codebook must not depend on partition count")
    assert(java.util.Arrays.equals(a, c),
      "codebook must not depend on accumulation order")
    // and the IVF trainer holds the same contract for its centroids
    def flat(df: org.apache.spark.sql.DataFrame): Seq[(Int, Seq[Float])] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toSeq
        .sortBy(_._1)
    val ca = flat(SimilarityIvf.train(emb, nList = 8, nIters = 2))
    val cb2 = flat(SimilarityIvf.train(emb.repartition(7), nList = 8,
      nIters = 2))
    assert(ca == cb2, "centroids must not depend on partition order")
  }

  test("codes are within [0, ksub) and one per subspace") {
    val coded = SimilarityPq.encode(emb, cb, m, ksub)
    val bad = coded.filter(size(col("codes")) =!= m ||
      exists(col("codes"), c => c < 0 || c >= ksub))
    assert(bad.isEmpty)
  }

  test("encoding is deterministic (retry-safe)") {
    val a = SimilarityPq.encode(emb, cb, m, ksub)
      .select(col("vec_id"), col("codes"))
    val b = SimilarityPq.encode(emb, cb, m, ksub)
      .select(col("vec_id"), col("codes"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("ADC score approximates the true dot product") {
    // mean |adc - dot| should be well under the mean |dot| scale — ADC is
    // an estimator of dot(q, x), not an arbitrary ranking heuristic
    import graft.functions.VectorFunctions.{dot_product, pq_adc, pq_lut}
    val coded = SimilarityPq.encode(emb, cb, m, ksub)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        pq_lut(col("embedding"), cb, m, ksub).as("lut"))
    val stats = coded.crossJoin(broadcast(q))
      .select(abs(pq_adc(col("codes"), col("lut"), ksub) -
          dot_product(col("q_emb"), col("embedding"))).as("err"),
        abs(dot_product(col("q_emb"), col("embedding"))).as("mag"))
      .agg(avg(col("err")).as("err"), avg(col("mag")).as("mag"))
      .head()
    assert(stats.getDouble(0) < stats.getDouble(1),
      s"mean ADC error ${stats.getDouble(0)} >= mean |dot| ${stats.getDouble(1)}")
  }

  test("rerank recovers most of the exact top-k (recall@5)") {
    val queries = emb.filter(col("vec_id") < 10)
    val coded = SimilarityPq.encode(emb, cb, m, ksub)
    val pq = SimilarityPq.rerankTopK(queries, coded, emb, cb, m, ksub,
        k = 5, rerankK = 40)
      .select(col("query_id"), col("vec_id"))
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select(col("query_id"), col("vec_id"))
    val hit = pq.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    assert(hit / total >= 0.5, s"recall@5 = ${hit / total} ($hit/$total)")
  }

  test("landed index round-trips: serve from artifact == serve in memory") {
    val dir = tmpDir("graft_pq_")
    val coded = SimilarityPq.encode(emb, cb, m, ksub)
    SimilarityPq.writeIndex(coded, cb, m, ksub, dir)
    val (codedL, cbL, (mL, ksubL)) = SimilarityPq.loadIndex(spark, dir)
    assert((mL, ksubL) == (m, ksub))
    assert(cbL.sameElements(cb), "codebook did not round-trip bit-exact")
    val queries = emb.filter(col("vec_id") < 5)
    val served = SimilarityPq.adcTopK(queries, codedL, cbL, mL, ksubL, k = 5)
      .select(col("query_id"), col("vec_id"), col("score"))
    val mem = SimilarityPq.adcTopK(queries, coded, cb, m, ksub, k = 5)
      .select(col("query_id"), col("vec_id"), col("score"))
    assert(served.except(mem).isEmpty && mem.except(served).isEmpty)
  }

  test("the landed code table carries no embeddings (the 32x artifact)") {
    val dir = tmpDir("graft_pq2_")
    SimilarityPq.writeIndex(SimilarityPq.encode(emb, cb, m, ksub), cb, m,
      ksub, dir)
    val schema = spark.read.parquet(s"$dir/codes").schema
    assert(schema.fieldNames.toSet == Set("vec_id", "codes"), schema.toString)
  }

  test("q_sim_pq returns k rows per query in rank order") {
    val out = SimilarityPq.qPq(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to 5))
    }
  }
}
