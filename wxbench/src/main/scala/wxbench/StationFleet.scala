package wxbench

import graft.sources.RestWeatherSource

/** A seeded fleet of weather stations standing in for the REST API.
  *
  * Round `r` is one scheduled fetch across the fleet, ten minutes after
  * round `r - 1`. Each station's document is a pure function of (seed,
  * station, round), so the driver-side model and the fetcher running in
  * Spark tasks agree without sharing state. Per round:
  *  - about 30% of stations are stale: they re-report the document of
  *    their last fresh round (same `dt`, a cross-round duplicate key);
  *  - about 2% report late, for a `dt` one to five days back;
  *  - about 1% are listed twice in the fetch list (in-batch duplicates);
  *  - UTC offsets span -11 h to +14 h, a third of them negative. */
final case class StationFleet(seed: Long, stations: Int) {
  import StationFleet._
  require(stations <= (1 << 16), "a key packs the station into 16 bits")

  def city(s: Int): String = f"ST$s%06d"

  private def u(parts: Long*): Double = {
    var h = seed * 0x9E3779B97F4A7C15L
    parts.foreach { p => h = mix(h ^ (p + 0x632BE59BD9B4E019L)) }
    (mix(h) >>> 11).toDouble / (1L << 53).toDouble
  }

  private def stale(s: Int, r: Int): Boolean = r > 0 && u(1, s, r) < 0.30
  private def late(s: Int, r: Int): Boolean = u(2, s, r) < 0.02

  /** The round whose fresh document station `s` reports in round `r`. */
  private def sourceRound(s: Int, r: Int): Int = {
    var k = r
    while (stale(s, k)) k -= 1
    k
  }

  /** (dt, utc offset seconds, json) of station `s` in round `r`. */
  def doc(s: Int, r: Int): (Long, Int, String) = {
    val k = sourceRound(s, r)
    val lateDays = if (late(s, k)) 1 + (u(3, s, k) * 5).toInt else 0
    val dt = Epoch0 + k.toLong * 600L + (s % 60) - lateDays * 86400L
    val tz = Offsets((u(4, s) * Offsets.size).toInt)
    val temp = math.round((u(5, s, k) * 45 - 10) * 10) / 10.0
    val hum = (u(6, s, k) * 100).toInt
    val pres = 980 + (u(7, s, k) * 60).toInt
    val wind = math.round(u(8, s, k) * 200) / 10.0
    val desc = Descriptions((u(9, s, k) * Descriptions.size).toInt)
    val json =
      s"""{"name":"${city(s)}","dt":$dt,"timezone":$tz,""" +
        s""""main":{"temp":$temp,"humidity":$hum,"pressure":$pres},""" +
        s""""weather":[{"id":800,"main":"Clear","description":"$desc"}],""" +
        s""""wind":{"speed":$wind}}"""
    (dt, tz, json)
  }

  /** The fetch list of round `r`: every station, some twice. */
  def fetchList(r: Int): Seq[String] =
    (0 until stations).flatMap { s =>
      if (u(10, s, r) < 0.01) Seq(city(s), city(s)) else Seq(city(s))
    }

  /** The (city, dt) keys round `r` delivers, duplicates removed, each
    * packed into one Long by `key`. */
  def keys(r: Int): Iterator[Long] =
    (0 until stations).iterator.map(s => key(s, doc(s, r)._1))

  def fetcher(r: Int): RestWeatherSource.Fetcher = FleetFetcher(this, r)
}

object StationFleet {
  /** 2024-08-01 00:00:00 UTC. */
  val Epoch0 = 1722470400L
  val Offsets: IndexedSeq[Int] =
    (-11 to 14).map(_ * 3600) ++ Seq(-12600, 19800, 20700, 34200)
  val Descriptions: IndexedSeq[String] = IndexedSeq("ciel dégagé",
    "peu nuageux", "couvert", "légère pluie", "brume", "orage")

  /** Station `s`'s key for `dt`: (dt - Epoch0) in the high bits, `s` in
    * the low 16. */
  def key(s: Int, dt: Long): Long = ((dt - Epoch0) << 16) | s

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def cityOf(url: String): String =
    url.split("[?&]").collectFirst { case p if p.startsWith("q=") =>
      java.net.URLDecoder.decode(p.drop(2), "UTF-8")
    }.getOrElse(throw new IllegalArgumentException(s"no q= in $url"))
}

/** The in-process transport: answers each station's URL with its
  * document for one round. */
final case class FleetFetcher(fleet: StationFleet, round: Int)
    extends RestWeatherSource.Fetcher {
  def fetch(url: String): String = {
    val city = StationFleet.cityOf(url)
    fleet.doc(city.drop(2).toInt, round)._3
  }
}
