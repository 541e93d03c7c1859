package wxbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the star-schema tables plus `events`,
  * `documents` and `embeddings`, with the column names and types the
  * engine's queries read. Row counts follow the usual scale factor
  * (lineitem = 600k x sf). Every value is a hash of (seed, row id,
  * column), so a table does not depend on how Spark partitions the
  * work. Each table lands as one parquet file under `<dir>/<name>.parquet/`. */
object SfTables {
  private val vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "big", "customer", "query", "stream", "group", "filter", "vector")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000); val nDocs = n(50000)
    val S = seed.toString
    def h(k: Int): Column = xxhash64(col("id"), lit(seed), lit(k))
    def ri(k: Int, m: Long): Column = pmod(h(k), lit(m))
    def u(k: Int): Column = pmod(h(k), lit(1000000L)) / 1e6
    def pick(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (ri(k, xs.size) + 1).cast("int"))
    def day(k: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), ri(k, days).cast("int")).cast("timestamp")

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        ri(1, 25).cast("int").as("c_nationkey"),
        round(u(2) * 10999.99 - 999.99, 2).as("c_acctbal"),
        pick(3, Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING",
          "HOUSEHOLD")).as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        ri(1, 25).cast("int").as("s_nationkey"),
        round(u(2) * 10999.99 - 999.99, 2).as("s_acctbal")),
      "part" -> spark.range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, Seq("small", "red", "blue", "green", "large")),
          pick(2, Seq("ring", "widget", "bolt", "gear", "valve"))).as("p_name"),
        concat(lit("Brand#"), ri(3, 25) + 1).as("p_brand"),
        pick(4, Seq("ECONOMY", "SMALL", "PROMO", "MEDIUM", "LARGE",
          "STANDARD")).as("p_type"),
        (ri(5, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")),
      "orders" -> spark.range(nOrd).select(col("id").as("o_orderkey"),
        ri(1, nCust).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
        round(u(3) * 499000 + 1000, 2).as("o_totalprice"),
        day(4, "1995-01-01", 2404).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> spark.range(nOrd * 4).select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        ri(1, nPart).as("l_partkey"), ri(2, nSupp).as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (ri(3, 50) + 1).cast("double").as("l_quantity"),
        round(u(4) * 100000 + 900, 2).as("l_extendedprice"),
        (ri(5, 11) / 100.0).as("l_discount"),
        (ri(6, 9) / 100.0).as("l_tax"),
        pick(7, Seq("A", "N", "R")).as("l_returnflag"),
        pick(8, Seq("F", "O")).as("l_linestatus"),
        day(9, "1995-01-02", 2498).as("l_shipdate")),
      "events" -> spark.range(n(100000)).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) +
          col("id") * lit(2592000000000L / n(100000)) + ri(1, 1000000L))
          .as("ts"),
        ri(2, n(15000)).as("user_id"),
        pick(3, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
        round(u(4) * 490 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", ri(5, 100)).as("props")),
      "documents" -> spark.range(nDocs).select(col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(1, 20 + cast(pmod(xxhash64(id, " +
          s"${S}L, 1), 60) AS int)), i -> element_at(array(" +
          vocab.map(w => s"'$w'").mkString(",") +
          s"), cast(pmod(xxhash64(id, ${S}L, 2, i), ${vocab.size}) AS int) + 1)), ' ')")
          .as("text"),
        pick(3, Seq("en", "en", "en", "fr")).as("lang"),
        concat(lit("src"), col("id") % 7).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> spark.range(nDocs).select(col("id").as("vec_id"),
        ri(1, 8).cast("int").as("label"))
        .select(col("vec_id"),
          expr(s"transform(sequence(0, 63), j -> cast(" +
            s"(pmod(xxhash64(label, ${S}L, 3, j), 2001) - 1000) / 4000.0 + " +
            s"(pmod(xxhash64(vec_id, ${S}L, 4, j), 2001) - 1000) / 12000.0 " +
            "AS float))").as("embedding"),
          col("label")))

    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
