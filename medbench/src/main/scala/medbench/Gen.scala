package medbench

import java.time.LocalDate

import org.apache.spark.sql.Row

import graft.pipeline.Ingestion.City

/** Seeded synthetic inputs and their closed-form expected answers.
  *
  * Every value is a pure function of (seed, city, day, reading), so the
  * benchmark can regenerate any input or answer without keeping it. Readings
  * are multiples of 0.25 °C between -30 and 50, so every sum the gold layer
  * takes is exact in a double and `avg = sum / count` is bit-identical
  * however Spark orders its partial aggregates: the output checks compare
  * with `==`, not a tolerance.
  */
final case class Gen(seed: Long) {
  import Gen._

  /** Day 0 of every history; moves with the seed. */
  val baseDate: LocalDate = LocalDate.of(2025, 1, 1).plusDays(java.lang.Math.floorMod(seed, 365L))

  def date(day: Int): LocalDate = baseDate.plusDays(day.toLong)

  /** `n` synthetic cities whose names are safe as Hive partition values. */
  def cities(n: Int): Seq[City] = (0 until n).map { i =>
    val h = mix(seed, 0x51L, i.toLong, 0L)
    City(f"C$i%04d", -60.0 + (h & 0xffff) % 12000 / 100.0, -180.0 + (h >>> 16 & 0xffff) % 36000 / 100.0)
  }

  private def hash(city: String, day: Int, i: Int): Long =
    mix(seed, city.hashCode.toLong, day.toLong, i.toLong)

  /** Temperature of reading `i` on `day`, or None for a missing reading
    * (probability `nullRate`; reading 0 is never missing, so no city-day
    * is ever left empty by silver's null filter). */
  def temp(city: String, day: Int, i: Int, nullRate: Double): Option[Double] = {
    val h = hash(city, day, i)
    if (i != 0 && (h >>> 11).toDouble / (1L << 53).toDouble < nullRate) None
    else Some((java.lang.Math.floorMod(h, 321L) - 120L) / 4.0)
  }

  /** One bronze row: (time, interval, temperature_2m, wind_speed_10m,
    * wind_direction_10m, weather_code, city, date), the order of
    * `graft.pipeline.Schemas.bronze`. */
  def bronzeRow(city: String, day: Int, i: Int, perDay: Int, nullRate: Double): Row = {
    val h = hash(city, day, i)
    val t = temp(city, day, i, nullRate)
    Row(timeString(day, i, perDay), 900L, t.map(Double.box).orNull,
      (h >>> 20 & 0xff) / 8.0, (h >>> 28 & 0xffff) % 360L, (h >>> 44 & 0xff) % 4L,
      city, java.sql.Date.valueOf(date(day)))
  }

  /** "yyyy-MM-ddTHH:mm" of reading `i` of `perDay` evenly spaced readings. */
  def timeString(day: Int, i: Int, perDay: Int): String = {
    val minute = i * 1440 / perDay
    f"${date(day)}T${minute / 60}%02d:${minute % 60}%02d"
  }

  /** Epoch second silver's `timestamp` holds for reading `i`. */
  def epochSecond(day: Int, i: Int, perDay: Int): Long =
    date(day).toEpochDay * 86400L + (i * 1440 / perDay) * 60L

  /** The reading a fake fetch returns for `city` on `day`: never missing,
    * and in its own hash domain so it never repeats a history reading. */
  def fetchTemp(city: String, day: Int): Double = temp(city, day, -1, 0.0).get

  /** Open-Meteo `current` response body for one fetch. */
  def fetchBody(city: City, day: Int): String = {
    val h = hash(city.name, day, -1)
    apiJson(city, fetchTemp(city.name, day), (h >>> 20 & 0xff) / 8.0,
      (h >>> 28 & 0xffff) % 360L, (h >>> 44 & 0xff) % 4L, s"${date(day)}T12:00")
  }

  /** Expected gold row of one city-day of `perDay` generated readings. */
  def goldOf(city: String, day: Int, perDay: Int, nullRate: Double): GoldRow = {
    val ts = (0 until perDay).flatMap(i => temp(city, day, i, nullRate))
    GoldRow(ts.sum / ts.size, ts.min, ts.max, ts.size.toLong)
  }

  /** Expected gold row of a city-day landed by one fake fetch. */
  def goldOfFetch(city: String, day: Int): GoldRow = {
    val t = fetchTemp(city, day)
    GoldRow(t, t, t, 1L)
  }

  /** `n` seeded analyst queries over `cities` × days [0, days). Every block
    * of [[QueryBlock]] holds 4 gold point lookups, 2 gold trends, 2 silver
    * days and 2 gold rankings in a seeded order, so any run of whole blocks
    * has the same mix whatever the seed; only the picks vary. */
  def queries(n: Int, cities: Seq[String], days: Int): IndexedSeq[Query] = {
    val rng = new java.util.SplittableRandom(mix(seed, 0x9e77L, 0L, 0L))
    val block = Vector(0, 0, 0, 0, 1, 1, 2, 2, 3, 3)
    def shuffled = block.indices.foldLeft(block) { (v, i) =>
      val j = i + rng.nextInt(block.size - i)
      v.updated(i, v(j)).updated(j, v(i))
    }
    Iterator.continually(shuffled).flatten.take(n).map { kind =>
      val c = cities(rng.nextInt(cities.size))
      kind match {
        case 0 => GoldPoint(c, rng.nextInt(days))
        case 1 =>
          val span = math.min(TrendDays, days)
          GoldTrend(c, rng.nextInt(days - span + 1), span)
        case 2 => SilverDay(c, rng.nextInt(days))
        case _ => GoldRank(rng.nextInt(days))
      }
    }.toIndexedSeq
  }
}

object Gen {

  final case class GoldRow(avg: Double, min: Double, max: Double, count: Long)

  /** Queries per block of the fixed analyst mix. */
  val QueryBlock = 10

  /** Days a trend query spans, when the lake has that many. */
  val TrendDays = 14

  sealed trait Query { def kind: String }
  final case class GoldPoint(city: String, day: Int) extends Query { def kind = "gold_point" }
  final case class GoldTrend(city: String, fromDay: Int, days: Int) extends Query { def kind = "gold_trend" }
  final case class SilverDay(city: String, day: Int) extends Query { def kind = "silver_day" }
  final case class GoldRank(day: Int) extends Query { def kind = "gold_rank" }

  /** SplitMix64 finaliser over four words. */
  def mix(a: Long, b: Long, c: Long, d: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L ^ b * 0xbf58476d1ce4e5b9L ^ c * 0x94d049bb133111ebL ^ d * 0x2545f4914f6cdd1dL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Open-Meteo wire format: only the `current` object is consumed. */
  def apiJson(city: City, temp: Double, wind: Double, dir: Long, code: Long, time: String): String =
    s"""{"latitude":${city.lat},"longitude":${city.lon},"current":{"time":"$time",""" +
      s""""interval":900,"temperature_2m":$temp,"wind_speed_10m":$wind,""" +
      s""""wind_direction_10m":$dir,"weather_code":$code}}"""
}
