package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Profile, SparkSpec}
import graft.analytics.ScaleOps
import graft.sources.Tables

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  private def shuffleBytesOf(body: => Unit): Long =
    Profile.recording(spark)(body)._2.shuffleWriteBytes

  private def jobsOf(body: => Unit): Long =
    Profile.recording(spark)(body)._2.jobs.size.toLong

  test("bloomJoin result is identical to the plain join (superset contract)") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val plain = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
    val bloomed = BloomJoin.bloomJoin(li, col("l_orderkey"),
      urgent, col("o_orderkey"), expectedItems = 10000, fpp = 0.01)
    assert(bloomed.count() == plain.count())
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
  }

  test("no false negatives even at an absurdly small filter (64 bits)") {
    // every build key must survive the pre-filter regardless of fpp —
    // optimalNumBits floors at 64, and 5k keys in 64 bits is fpp ≈ 1,
    // so this is the worst case: the filter keeps nearly everything,
    // but must never drop a true match
    val keys = Tables.orders(spark, sf).select(col("o_orderkey"))
    assert(BloomJoin.optimalNumBits(1, 0.5) == 64)
    val survivors = BloomJoin.preFilter(keys, col("o_orderkey"),
      keys, col("o_orderkey"), expectedItems = 1, fpp = 0.5) // → 64 bits
    assert(survivors.count() == keys.count())
  }

  test("empty build side → null bloom → pre-filter keeps nothing") {
    val empty = Tables.orders(spark, sf).filter(lit(false))
    assert(empty.select(BloomJoin.bloomOf(col("o_orderkey"), 100, 0.01))
      .head().isNullAt(0))
    val li = Tables.lineitem(spark, sf)
    assert(BloomJoin.preFilter(li, col("l_orderkey"),
      empty, col("o_orderkey"), 100, 0.01).isEmpty)
  }

  test("pre-filter cuts the big side's shuffle under a sort-merge join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // ~6% selective build side; payload is per-row hashes so compressed
      // shuffle sizes track row counts (constant pads deflate to nothing)
      val urgent = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"))
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"),
          sha2(concat_ws(":", col("l_orderkey"), col("l_partkey"),
            col("l_linenumber")), 256).as("pad"))
      def run(big: DataFrame): Long = shuffleBytesOf {
        big.join(urgent, col("l_orderkey") === col("o_orderkey")).collect()
      }
      val plainBytes = run(li)
      val bloomedBytes = run(BloomJoin.preFilter(li, col("l_orderkey"),
        urgent, col("o_orderkey"), expectedItems = 10000, fpp = 0.01))
      assert(plainBytes > 0)
      // 6% of orders are urgent+early → ≥ 5× shuffle reduction on the big
      // side even with the small side's repeated shuffle counted both runs
      assert(bloomedBytes * 5 < plainBytes,
        s"bloomed=$bloomedBytes plain=$plainBytes")
      // and the probe itself must sit in the scan stage: the filter shows
      // up below the exchange, not above it
      val bloomedPlan = BloomJoin.preFilter(li, col("l_orderkey"),
          urgent, col("o_orderkey"), 10000, 0.01)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(bloomedPlan.contains("might_contain"), bloomedPlan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("building a bloomJoin or preFilter DataFrame starts no Spark job") {
    val urgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
    // the filter is built by the action, inside the query
    val jobs = jobsOf {
      BloomJoin.preFilter(li, col("l_orderkey"), urgent, col("o_orderkey"),
        expectedItems = 10000, fpp = 0.01)
      BloomJoin.bloomJoin(li, col("l_orderkey"), urgent, col("o_orderkey"),
        expectedItems = 10000, fpp = 0.01)
    }
    assert(jobs == 0, s"$jobs jobs started while building the DataFrames")
  }

  test("q_bloom_join's query execution text stays under 64 KB") {
    // a 2^20-key filter is ~1.26 MB; the plan must reference it, not print it
    val df = ScaleOps.qBloomJoin(spark, sf)
    val before = df.queryExecution.toString.length
    assert(before < 64 * 1024, s"$before chars before execution")
    df.collect()
    val after = df.queryExecution.toString.length
    assert(after < 64 * 1024, s"$after chars after execution")
  }
}
