package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExpressions

import graft.SparkSpec

object CatalogSpec {
  /** Register every test table as a temp view and the native functions, so
    * ad-hoc SQL such as `SELECT cosine_sim(...) FROM embeddings` runs. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    Tables.names.foreach { t =>
      // events goes through its ns-timestamp normalizing loader, not a raw
      // parquet read (which Spark 4 rejects for TIMESTAMP(NANOS))
      val df = if (t == "events") Tables.events(spark, sfDir)
               else Tables.load(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
    GraftExpressions.register(spark)
  }
}

class CatalogSpec extends SparkSpec {
  import CatalogSpec.registerAll

  test("ad-hoc SQL over registered tables + native functions") {
    registerAll(spark, sf)
    val row = spark.sql(
      """SELECT COUNT(*) AS n,
        |  ROUND(AVG(cosine_sim(embedding, embedding)), 4) AS self_cos,
        |  COUNT(DISTINCT rolling_hash(CAST(vec_id AS STRING))) AS n_fp,
        |  COUNT(DISTINCT simhash64(array(CAST(vec_id AS STRING)))) AS n_sh
        |FROM embeddings""".stripMargin).collect().head
    assert(row.getAs[Long]("n") == 500L)
    assert(row.getAs[Double]("self_cos") == 1.0)
    assert(row.getAs[Long]("n_fp") == 500L)
    assert(row.getAs[Long]("n_sh") > 1L) // registered + computing
    // events view went through the ns-normalizing loader
    val ev = spark.sql("SELECT MIN(ts) FROM events").collect().head
    assert(!ev.isNullAt(0))
  }

  test("text + layout kernels from SQL: nfc_normalize, interleave_bits") {
    registerAll(spark, sf)
    val r = spark.sql(
      """SELECT nfc_normalize('Café') AS norm,
        |  interleave_bits(array(3, 5), 3) AS z
        |FROM region LIMIT 1""".stripMargin).collect().head
    assert(r.getAs[String]("norm") == "Café")
    // interleave of x=3 (011) and y=5 (101), bit b of dim d lands at
    // position b*n + (n-1-d): x → {1,3}, y → {0,4} ⇒ 1+2+8+16 = 27
    assert(r.getAs[Long]("z") == 27L)
    // a per-row (non-literal) bit width is refused loudly
    val e = intercept[Exception] {
      spark.sql("SELECT interleave_bits(array(1), CAST(r_regionkey AS INT))" +
        " FROM region").collect()
    }
    assert(e.getMessage.contains("literal"))
  }
}
