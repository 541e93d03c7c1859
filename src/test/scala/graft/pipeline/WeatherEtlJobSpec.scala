package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec
import graft.core.{WeatherFixtures, WeatherTransform}
import graft.sinks.LandedTable
import graft.sources.RestWeatherSource

object WeatherEtlJobSpec {
  val Day1 = 1723291200L // 2024-08-10 12:00:00 UTC
  val Day2 = 1723377600L // 2024-08-11 12:00:00 UTC

  def doc(city: String, dt: Long): String =
    s"""{"name":"$city","dt":$dt,"timezone":0,""" +
      s""""main":{"temp":1.0,"humidity":50,"pressure":1000},""" +
      """"weather":[{"description":"x"}],"wind":{"speed":1.0}}"""

  def cityOf(url: String): String = url.split("q=")(1).split("&")(0)

  /** Answers every city with its `Day1` document and counts each call. */
  final case class Counting(calls: LongAccumulator)
      extends RestWeatherSource.Fetcher {
    def fetch(url: String): String = { calls.add(1); doc(cityOf(url), Day1) }
  }

  private val seen = ConcurrentHashMap.newKeySet[String]()

  /** A source whose answer changes between calls: a city's first fetch
    * reports `Day1`, every later fetch `Day2`. */
  case object Drifting extends RestWeatherSource.Fetcher {
    def fetch(url: String): String = {
      val city = cityOf(url)
      doc(city, if (seen.add(city)) Day1 else Day2)
    }
  }
}

class WeatherEtlJobSpec extends SparkSpec {
  import WeatherEtlJobSpec._
  import spark.implicits._

  private object FakeFetcher extends RestWeatherSource.Fetcher {
    var calls = 0
    def fetch(url: String): String = { calls += 1; WeatherFixtures.marseille }
  }

  private val cfg =
    RestWeatherSource.Config("Marseille", "fr", "metric", "test-key")

  test("end-to-end run is idempotent across scheduled replays (O15–O17)") {
    val path = tmpDir("etl-table")
    val r1 = WeatherEtlJob.run(spark, cfg, path, FakeFetcher)
    assert(r1.appended == 1)
    val r2 = WeatherEtlJob.run(spark, cfg, path, FakeFetcher) // replay, same doc
    assert(r2.appended == 0)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("missing env config fails fast (weather_etl.py:98–99)") {
    val ex = intercept[IllegalArgumentException] {
      RestWeatherSource.configFromEnv(Map("CITY" -> "X"))
    }
    assert(ex.getMessage.contains("manquantes"))
  }

  test("HTTP error propagates as failure (weather_etl.py:104,108–110)") {
    object Failing extends RestWeatherSource.Fetcher {
      def fetch(url: String): String =
        throw new RuntimeException("HTTP 503")
    }
    intercept[RuntimeException] {
      WeatherEtlJob.run(spark, cfg, tmpDir("etl-fail"), Failing)
    }
  }

  test("load failure fails fast by default (an engine must not drop data silently)") {
    // tablePath is an existing plain FILE -> the parquet append cannot succeed
    val f = java.nio.file.Files.createTempFile("etl-notadir", ".bin")
    intercept[Exception] {
      WeatherEtlJob.run(spark, cfg, f.toString, FakeFetcher)
    }
  }

  test("failFastLoad=false mirrors the reference's swallow-and-log load edge (weather_etl.py:190–191)") {
    val f = java.nio.file.Files.createTempFile("etl-notadir2", ".bin")
    val r = WeatherEtlJob.run(spark, cfg, f.toString, FakeFetcher,
      failFastLoad = false)
    assert(r.fetched == 1 && r.appended == 0)
    assert(r.loadError.isDefined) // swallowed but surfaced, not lost
  }

  test("DAG twin exists and mirrors the reference's scheduling envelope (weather_etl.py:15–29,228)") {
    val dag = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("airflow/dags/weather_etl_spark.py")), "UTF-8")
    // the submit unit is this engine's main
    assert(dag.contains("graft.pipeline.WeatherEtlMain"))
    assert(dag.contains("SparkSubmitOperator"))
    // reference retry policy (weather_etl.py:20–21) and cadence (:29)
    assert(dag.contains("\"retries\": 1"))
    assert(dag.contains("retry_delay\": timedelta(minutes=5)"))
    assert(dag.contains("schedule_interval=timedelta(minutes=2)"))
    assert(dag.contains("catchup=False"))
    // linear chain, DDL first (:228)
    assert(dag.contains("ensure_catalog >> run_etl"))
    // both stages of the engine's main are exercised
    assert(dag.contains("\"--stage\", \"ddl\""))
  }

  test("loadMany fan-out fetches per city, distributed, through one transform") {
    object CityEcho extends RestWeatherSource.Fetcher {
      def fetch(url: String): String = {
        val city = url.split("q=")(1).split("&")(0)
        WeatherFixtures.marseille.replace("Marseille", city)
      }
    }
    val cities = (1 to 20).map(i => s"City$i")
    val raw = RestWeatherSource.loadMany(spark, cities, cfg, CityEcho,
      parallelism = 4)
    assert(raw.rdd.getNumPartitions == 4)
    val flat = graft.core.WeatherTransform(raw)
    val got = flat.select("city").collect().map(_.getString(0)).sorted.toSeq
    assert(got == cities.sorted)
  }

  test("config builds the reference's URL shape (weather_etl.py:103)") {
    val url = cfg.url
    assert(url.startsWith("https://api.openweathermap.org/data/2.5/weather?"))
    assert(url.contains("q=Marseille") && url.contains("lang=fr") &&
      url.contains("units=metric") && url.contains("appid=test-key"))
  }

  private def docs(d: Seq[String]) = d.toDF("value")

  /** Result-stage names of the jobs `body` runs, in job order. A marker
    * job after `body` closes the window: listener events arrive in order,
    * so once the marker's start is seen every earlier start has been too. */
  private def jobNames(body: => Unit): Seq[String] = {
    val marker = "weather-etl-spec-marker"
    val names = new ConcurrentLinkedQueue[String]()
    val closed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
              p.getProperty("spark.job.description") == marker))
          closed.countDown()
        else names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(closed.await(60, TimeUnit.SECONDS), "marker job never seen")
    } finally sc.removeSparkListener(l)
    names.asScala.toSeq
  }

  /** The two landings of raw documents: flat and partitioned layout. */
  private val layouts: Seq[(String, (DataFrame, String) => Long)] = Seq(
    "flat" -> ((raw, p) => WeatherEtlJob.runBatch(spark, raw, p)),
    "partitioned" -> ((raw, p) =>
      LandedTable.append(spark, WeatherTransform(raw), p)))

  test("a landing onto an existing table fetches each listed city once") {
    for ((layout, land) <- layouts) {
      val path = tmpDir(s"once-$layout")
      val cities = (1 to 8).map(i => s"Once$i")
      land(docs(cities.take(4).map(doc(_, Day1))), path)
      val calls = spark.sparkContext.longAccumulator("fetches")
      val raw = RestWeatherSource.loadMany(spark, cities, cfg, Counting(calls),
        parallelism = 4)
      assert(land(raw, path) == 4, layout)
      assert(calls.value == cities.size,
        s"$layout: ${calls.value} fetches for ${cities.size} cities")
    }
  }

  test("runBatch onto an existing flat table runs no footer-inference job") {
    val path = tmpDir("etl-jobs")
    val cities = (1 to 8).map(i => s"Jobs$i")
    WeatherEtlJob.runBatch(spark, docs(cities.take(4).map(doc(_, Day1))), path)
    val calls = spark.sparkContext.longAccumulator("fetches")
    val names = jobNames {
      WeatherEtlJob.runBatch(spark, RestWeatherSource.loadMany(spark, cities,
        cfg, Counting(calls), parallelism = 4), path)
    }
    // Reading the existing side with the batch's key schema infers nothing
    // from footers, so no `parquet at` read job runs on the caller thread.
    // The whole landing is six jobs, adaptive query stages included.
    assert(!names.exists(_.startsWith("parquet at")), names.mkString("; "))
    assert(names.size <= 6, names.mkString("; "))
  }

  test("a source that answers differently per call never lands a key twice") {
    // The table already holds each city's Day2 key. A second evaluation of
    // the batch would see Day2 while the first saw Day1: only one evaluation
    // may decide both what is new and what lands.
    for ((layout, land) <- layouts) {
      val path = tmpDir(s"drift-$layout")
      val city = s"Drift-$layout"
      land(docs(Seq(doc(city, Day2))), path)
      val n = land(RestWeatherSource.loadMany(spark, Seq(city), cfg, Drifting),
        path)
      val t = spark.read.parquet(path)
      assert(t.groupBy("city", "utc").count().filter(col("count") > 1).isEmpty,
        s"$layout: a key landed twice")
      assert(n == 1 && t.count() == 2, s"$layout: appended $n")
    }
  }
}
