package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The ANN-kernel surface as SQL functions: models ride as the seeded
  * generator's scalars (hyperplanes) or a registered view in the
  * persisted-index schema (centroids, codebooks) — collected ONCE at
  * analysis into the same reference-object kernels the Scala path plans,
  * so plans stay O(1) in model size and SQL results agree bit-for-bit. */
class SqlKernelsSpec extends SparkSpec {
  import CatalogSpec.registerAll
  import spark.implicits._

  test("hyperplane_buckets from SQL matches the Scala seeded path") {
    registerAll(spark, sf)
    // same (nTables, bits, dim, seed) → identical bucket ids
    val sqlBuckets = spark.sql(
      """SELECT vec_id, hyperplane_buckets(embedding, 4, 8, 64, 42) AS b
        |FROM embeddings ORDER BY vec_id LIMIT 50""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val planes = org.apache.spark.sql.graft.GraftExpressions
      .gaussianPlanes(32, 64, 42L)
    val scalaBuckets = Tables.embeddings(spark, sf)
      .select(col("vec_id"), graft.functions.VectorFunctions
        .hyperplane_buckets(col("embedding"), planes, 4, 8).as("b"))
      .orderBy(col("vec_id")).limit(50)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(sqlBuckets.toSeq == scalaBuckets.toSeq)
  }

  test("centroid_argmax / centroid_topn read the trained view by name") {
    registerAll(spark, sf)
    // two axis-aligned centroids in 4-d: argmax is the larger coordinate
    Seq((0, Seq(1f, 0f, 0f, 0f)), (1, Seq(0f, 1f, 0f, 0f)))
      .toDF("centroid_id", "centroid").createOrReplaceTempView("cents")
    val r = spark.sql(
      """SELECT centroid_argmax(array(CAST(0.9 AS FLOAT), CAST(0.1 AS FLOAT),
        |    CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), 'cents') AS a,
        |  centroid_topn(array(CAST(0.1 AS FLOAT), CAST(0.9 AS FLOAT),
        |    CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), 'cents', 2) AS t
        |""".stripMargin).head()
    assert(r.getInt(0) == 0)
    val top = r.getSeq[org.apache.spark.sql.Row](1)
    assert(top.map(_.getInt(1)).toSeq == Seq(1, 0),
      "topn must order by cosine desc")
    // a missing view refuses at analysis, loudly
    val e = intercept[Exception] {
      spark.sql("SELECT centroid_argmax(array(CAST(1.0 AS FLOAT)), " +
        "'no_such_view_xyz')").collect()
    }
    assert(e.getMessage.toLowerCase.contains("no_such_view_xyz"))
  }

  test("rank_bucket takes a literal boundary array; per-row refuses") {
    registerAll(spark, sf)
    val r = spark.sql(
      """SELECT rank_bucket(CAST(0.05 AS DOUBLE), array(0.1, 0.5, 0.9)) AS lo,
        |  rank_bucket(CAST(0.5 AS DOUBLE), array(0.1, 0.5, 0.9)) AS mid,
        |  rank_bucket(CAST(2.0 AS DOUBLE), array(0.1, 0.5, 0.9)) AS hi
        |""".stripMargin).head()
    assert(r.getInt(0) == 0 && r.getInt(2) == 3)
    val e = intercept[Exception] {
      spark.sql("SELECT rank_bucket(value, array(value)) FROM events")
        .collect()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("pq_encode / pq_lut / pq_adc round-trip through the codebook view") {
    registerAll(spark, sf)
    // m=2 subspaces × ksub=2 codes × dsub=2 dims; axis-aligned codewords
    Seq(
      (0, 0, Seq(1f, 0f)), (0, 1, Seq(0f, 1f)),
      (1, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("j", "code", "vec").createOrReplaceTempView("cb")
    val r = spark.sql(
      """SELECT
        |  pq_encode(array(CAST(0.9 AS FLOAT), CAST(0.1 AS FLOAT),
        |    CAST(0.2 AS FLOAT), CAST(0.8 AS FLOAT)), 'cb') AS codes,
        |  pq_lut(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT),
        |    CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)), 'cb') AS lut
        |""".stripMargin).head()
    // subspace 0 of (0.9, 0.1) → code 0 (closer to e1); subspace 1 of
    // (0.2, 0.8) → code 1 (closer to e2)
    assert(r.getSeq[Int](0) == Seq(0, 1))
    // adc(codes, lut) = lut[0·2+0] + lut[1·2+1] = dot(q0,c00) + dot(q1,c11)
    //                 = 1.0 + 1.0
    val adc = spark.sql(
      """SELECT pq_adc(array(0, 1), pq_lut(array(CAST(1.0 AS FLOAT),
        |  CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |  'cb'), 2) AS s""".stripMargin).head().getDouble(0)
    assert(math.abs(adc - 2.0) < 1e-9)
    // a codebook view with a hole in the (j, code) grid refuses
    Seq((0, 0, Seq(1f, 0f)), (1, 1, Seq(0f, 1f)))
      .toDF("j", "code", "vec").createOrReplaceTempView("cb_hole")
    val e = intercept[Exception] {
      spark.sql("SELECT pq_encode(array(CAST(1.0 AS FLOAT), " +
        "CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)), " +
        "'cb_hole')").collect()
    }
    assert(e.getMessage.contains("grid"))
  }
}
