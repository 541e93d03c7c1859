package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

class WeatherDedupSpec extends SparkSpec {
  import spark.implicits._

  private def landed(docs: Seq[String]) =
    WeatherTransform(docs.toDF("value"))

  test("idempotentAppend: replaying the same batch appends nothing") {
    val path = tmpDir("weather-landed")
    val n1 = WeatherDedup.idempotentAppend(spark, landed(WeatherFixtures.all), path)
    assert(n1 == 3)
    val n2 = WeatherDedup.idempotentAppend(spark, landed(WeatherFixtures.all), path)
    assert(n2 == 0)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("idempotentAppend: partial overlap appends only the new keys") {
    val path = tmpDir("weather-landed2")
    WeatherDedup.idempotentAppend(spark,
      landed(Seq(WeatherFixtures.marseille)), path)
    val n = WeatherDedup.idempotentAppend(spark, landed(WeatherFixtures.all), path)
    assert(n == 2)
    val df = spark.read.parquet(path)
    assert(df.count() == 3)
    assert(df.select("city", "utc").distinct().count() == 3)
  }

  test("dedupWithinBatch: winner is deterministic under any physical order") {
    // two rows, same (city, utc) key, different payloads — the winner must
    // not depend on row order or partitioning
    val t = java.sql.Timestamp.valueOf("2024-08-07 12:00:00")
    val rows = Seq(
      ("Paris", 20.0, "clear", 50, 1000, 1.0, t, t),
      ("Paris", 25.0, "rain", 60, 1010, 2.0, t, t))
    val cols = Seq("city", "temperature", "weather", "humidity", "pressure",
      "wind_speed", "lt", "utc")
    val fwd = WeatherDedup.dedupWithinBatch(
      rows.toDF(cols: _*)).select("temperature").as[Double].collect()
    val rev = WeatherDedup.dedupWithinBatch(
      rows.reverse.toDF(cols: _*).repartition(5)).select("temperature")
      .as[Double].collect()
    assert(fwd.toSeq == Seq(25.0) && rev.toSeq == Seq(25.0))
  }

  test("property: any replay mix keeps (city, utc) unique (scalacheck)") {
    val docGen = Gen.someOf(WeatherFixtures.all)
    val prop = Prop.forAll(docGen, docGen) { (batch1, batch2) =>
      val path = tmpDir("weather-prop")
      WeatherDedup.idempotentAppend(spark, landed(batch1.toSeq), path)
      WeatherDedup.idempotentAppend(spark, landed(batch2.toSeq), path)
      val expected = (batch1.toSet ++ batch2.toSet).size
      val got =
        if (expected == 0) 0L
        else spark.read.parquet(path).select("city", "utc").distinct().count()
      val total =
        if (expected == 0) 0L
        else spark.read.parquet(path).count()
      got == expected.toLong && total == expected.toLong
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("a directory holding only _SUCCESS or a crashed write's _temporary is no table yet") {
    val path = tmpDir("weather-leftovers")
    val dir = new java.io.File(path)
    assert(!WeatherDedup.tableExists(spark, s"$path/missing"))
    assert(!WeatherDedup.tableExists(spark, path))
    new java.io.File(dir, "_SUCCESS").createNewFile()
    new java.io.File(dir, "_temporary/0").mkdirs()
    new java.io.File(dir, ".hidden.crc").createNewFile()
    assert(!WeatherDedup.tableExists(spark, path))
    assert(WeatherDedup.idempotentAppend(spark, landed(WeatherFixtures.all), path) == 3)
    assert(WeatherDedup.tableExists(spark, path))
    assert(WeatherDedup.idempotentAppend(spark, landed(WeatherFixtures.all), path) == 0)
    assert(spark.read.parquet(path).count() == 3)
  }
}
