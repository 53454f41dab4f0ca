package medbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val cities = Seq("Delhi", "London", "NewYork", "Tokyo")

  private def sample(g: Gen) = (
    g.cities(5),
    (0 until 50).map(i => g.bronzeRow("C0001", i % 7, i, 24, 0.02)),
    g.cities(3).map(c => g.fetchBody(c, 4)),
    g.queries(200, cities, 20),
    (0 until 10).map(d => g.goldOf("London", d, 96, 0.02)))

  test("the same seed generates the same inputs, answers and queries") {
    assert(sample(Gen(7)) == sample(Gen(7)))
  }

  test("another seed generates other inputs") {
    val (a, b) = (sample(Gen(7)), sample(Gen(8)))
    assert(a._2 != b._2 && a._3 != b._3 && a._4 != b._4 && a._5 != b._5)
  }

  test("gold answers are exact: quarter-degree readings, avg = sum / count") {
    val g = Gen(3)
    val ts = (0 until 2880).flatMap(i => g.temp("C0002", 1, i, 0.02))
    assert(ts.forall(t => t * 4 == math.rint(t * 4) && t >= -30 && t <= 50))
    assert(ts.size < 2880 && ts.size > 2700, "about 2% of readings are missing")
    assert(g.goldOf("C0002", 1, 2880, 0.02) == Gen.GoldRow(ts.sum / ts.size, ts.min, ts.max, ts.size))
    assert((0 until 1000).forall(d => g.temp("C0002", d, 0, 0.5).isDefined), "reading 0 is never missing")
  }

  test("a fetch body carries the fetched reading in the Open-Meteo current format") {
    val g = Gen(5)
    val c = g.cities(1).head
    val body = g.fetchBody(c, 3)
    assert(body.contains(s""""temperature_2m":${g.fetchTemp(c.name, 3)},"""))
    assert(body.contains(s""""time":"${g.date(3)}T12:00""""))
  }

  test("every block of ten queries has the same mix, and every query stays inside the lake") {
    val qs = Gen(1).queries(400, cities, 20)
    val mix = Map("gold_point" -> 4, "gold_trend" -> 2, "silver_day" -> 2, "gold_rank" -> 2)
    assert(qs.grouped(10).forall(b => b.groupBy(_.kind).map { case (k, v) => k -> v.size } == mix))
    assert(qs.take(10) != Gen(2).queries(10, cities, 20), "the order within a block is seeded")
    assert(qs.forall {
      case Gen.GoldTrend(_, d, n) => d >= 0 && n == Gen.TrendDays && d + n <= 20
      case Gen.GoldPoint(_, d) => d >= 0 && d < 20
      case Gen.SilverDay(_, d) => d >= 0 && d < 20
      case Gen.GoldRank(d) => d >= 0 && d < 20
    })
  }
}
