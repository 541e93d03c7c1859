package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}

/** O3 — the reference's REST source
  * (/root/reference/airflow/dags/weather_etl.py:90–110): one GET to
  * api.openweathermap.org per run, parameterized by city/lang/units/api-key
  * env config (:93–96), fail-fast on missing config (:98–99) and on HTTP
  * error (:104, 108–110).
  *
  * One document per 2-minute trigger is driver-side work by nature — there is
  * nothing to distribute (SURVEY.md §4: "driver-side fetch is faithful").
  * The fetched body enters the engine as a 1-row DataFrame of raw JSON; from
  * there everything is the lazy Spark plan. For a many-city fan-out the same
  * [[Fetcher]] runs inside `mapPartitions` over a city table — the interface
  * doesn't change.
  */
object RestWeatherSource {

  /** Pluggable transport so tests inject a deterministic fake (this container
    * has zero egress; the reference's own test strategy is manual,
    * SURVEY.md §5). */
  trait Fetcher extends Serializable {
    /** Returns the HTTP body, or throws on transport/HTTP error — matching
      * `raise_for_status` (weather_etl.py:104). */
    def fetch(url: String): String
  }

  /** Production transport (java.net.http, JDK built-in). */
  final class HttpFetcher(timeoutSec: Long = 30) extends Fetcher {
    @transient private lazy val client = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()
    def fetch(url: String): String = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new RuntimeException(
          s"Erreur lors de la récupération des données météo: HTTP ${resp.statusCode()}")
      resp.body()
    }
  }

  final case class Config(city: String, lang: String, units: String,
                          apiKey: String) {
    // weather_etl.py:103's URL, parameters URL-encoded.
    def url: String = {
      def enc(s: String) = URLEncoder.encode(s, UTF_8)
      s"https://api.openweathermap.org/data/2.5/weather" +
        s"?q=${enc(city)}&lang=${enc(lang)}&appid=${enc(apiKey)}&units=${enc(units)}"
    }
  }

  /** Fail-fast env validation (weather_etl.py:98–99). */
  def configFromEnv(env: Map[String, String] = sys.env): Config = {
    def need(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(
        s"Les informations de configuration sont manquantes: $k"))
    Config(need("CITY"), need("LANG"), need("UNITS"), need("API_KEY"))
  }

  /** Fetch one document (driver-side) → 1-row DataFrame["value": string]. */
  def load(spark: SparkSession, cfg: Config,
           fetcher: Fetcher = new HttpFetcher()): DataFrame = {
    import spark.implicits._
    Seq(fetcher.fetch(cfg.url)).toDF("value")
  }

  /** The fan-out scale path: fetch for MANY cities, distributed — each
    * executor partition runs its own fetcher over its slice of the city
    * list (`mapPartitions`, so a transport/connection pool initializes once
    * per partition, not per city). Same [[Fetcher]] seam as the 1-doc path.
    * `parallelism` bounds concurrent outbound connections cluster-wide. The
    * city list is sliced straight into `parallelism` partitions, so the
    * fetch runs in the first stage with no shuffle in front of it. */
  def loadMany(spark: SparkSession, cities: Seq[String],
               base: Config, fetcher: Fetcher = new HttpFetcher(),
               parallelism: Int = 8): DataFrame = {
    import spark.implicits._
    val nParts = math.min(parallelism, math.max(1, cities.size))
    spark.sparkContext.parallelize(cities, nParts)
      .mapPartitions { cityIt =>
        // real impl: one pooled HTTP client per partition, opened here
        cityIt.map(city => fetcher.fetch(base.copy(city = city).url))
      }
      .toDF("value")
  }
}
