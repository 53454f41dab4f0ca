package medbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.MetadataLedger
import graft.pipeline._
import graft.sources.ParquetLake
import medbench.Gen._

/** What one op did: rows it moved, partitions each layer processed, the
  * transport counters of an ingesting op and the rows a query returned. */
final case class OpOut(rows: Long, parts: Map[String, Long] = Map.empty,
                       fetcher: Option[CountingFetcher] = None,
                       result: Seq[Seq[Any]] = Nil)

/** One workload: state built in set-up, then a closed loop of ops, each
  * verified against the generator's answers.
  *
  * Ops call the program's public layer functions. With a recording
  * [[Tracer]] an op makes the layer calls itself, in `Pipeline.run`'s order,
  * each inside its own span; otherwise it calls `Pipeline.run` as users do. */
abstract class Workload(val spark: SparkSession, val gen: Gen, work: File) {

  /** Builds the starting state: generated inputs and, where the workload
    * has one, its lake. */
  def build(): Unit
  /** Untimed ops like the timed ones, so JIT compilation and Spark's code
    * generation happen in set-up, not in the timed ops. */
  def warmUp(): Unit
  def op(i: Int, t: Tracer): OpOut
  def verify(i: Int, out: OpOut): Boolean
  /** The timed loop ends only after a whole number of rounds of this many
    * ops, so every run measures the same mix of ops. */
  def round: Int = 1
  /** Ops whose output fails a check that can only run at the end. */
  def finish(): Set[Int] = Set.empty
  def afterOp(i: Int): Unit = ()
  /** Roots of the lake the last op wrote or read. */
  def lake: Pipeline.Config
  /** Bronze rows the lake holds. */
  def bronzeRows: Long

  protected def root(name: String): String = new File(work, name).getPath
  protected def remove(path: String): Unit = Workload.remove(new File(path))

  protected def sqlDate(day: Int): java.sql.Date = java.sql.Date.valueOf(gen.date(day))

  protected def history(cities: Seq[String], days: Int, perDay: Int): DataFrame =
    spark.createDataFrame(
      (for (c <- cities; d <- 0 until days; i <- 0 until perDay)
        yield gen.bronzeRow(c, d, i, perDay, Workload.NullRate)).asJava,
      Schemas.bronze)

  /** Land `bronze` and run silver and gold over it, as a backfill does. */
  protected def backfill(i: Int, t: Tracer, conf: Pipeline.Config, bronze: DataFrame,
                         bronzeParts: Long, fullRefresh: Boolean): Map[String, Long] = {
    t.span(i, "ledger.ensure")(MetadataLedger.ensure(spark, conf.metadataPath))
    t.span(i, "bronze")(Bronze.write(bronze, conf.bronzeRoot))
    val s = t.span(i, "silver")(Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath))
    val g = t.span(i, "gold")(Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
      fullRefresh = fullRefresh))
    Map("bronze" -> bronzeParts, "silver" -> s, "gold" -> g)
  }

  /** One `Pipeline.run` cycle for `day`. */
  protected def cycle(i: Int, t: Tracer, conf: Pipeline.Config, fetcher: CountingFetcher,
                      day: Int): OpOut = {
    val runDate = sqlDate(day)
    val (s, g) =
      if (!t.on) {
        val r = Pipeline.run(spark, conf, fetcher, runDate)
        (r.silverPartitions, r.goldPartitions)
      } else {
        t.span(i, "ledger.ensure")(MetadataLedger.ensure(spark, conf.metadataPath))
        val raw = t.span(i, "ingestion")(Ingestion.fetchAll(conf.cities, fetcher))
        t.span(i, "bronze")(Bronze.run(spark, raw, conf.bronzeRoot, runDate))
        (t.span(i, "silver")(Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath)),
          t.span(i, "gold")(Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
            fullRefresh = conf.fullRefreshGold)))
      }
    val n = conf.cities.size.toLong
    OpOut(n, Map("bronze" -> n, "silver" -> s, "gold" -> g), Some(fetcher))
  }

  protected def goldOk(conf: Pipeline.Config, expected: Map[Checks.Key, GoldRow]): Boolean =
    Checks.badGold(spark, conf.goldRoot, expected).isEmpty &&
      Checks.badLedger(spark, conf.metadataPath,
        expected.keySet.groupBy(_._2).map { case (d, ks) => d -> ks.map(_._1) }).isEmpty
}

object Workload {
  /** Share of generated history readings with a missing temperature. */
  val NullRate = 0.02

  val names: Seq[String] = Seq("daily_incremental", "bulk_backfill", "analyst_reads")

  def apply(name: String, spark: SparkSession, gen: Gen, work: File): Workload = name match {
    case "daily_incremental" => new DailyIncremental(spark, gen, work)
    case "bulk_backfill" => new BulkBackfill(spark, gen, work)
    case "analyst_reads" => new AnalystReads(spark, gen, work)
  }

  def remove(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(remove))
    f.delete()
  }
}

/** A long-lived lake with more than 32 dates per city, advanced one date per
  * op by an incremental `Pipeline.run`. Row work is nearly nil; listing,
  * the ledger and the pending-partition anti-join dominate. */
final class DailyIncremental(spark: SparkSession, gen: Gen, work: File)
    extends Workload(spark, gen, work) {
  import DailyIncremental._

  private val cities = gen.cities(nCities)
  private var conf: Pipeline.Config = _
  private var cycles = 0 // warm-up included

  def lake: Pipeline.Config = conf
  def bronzeRows: Long = nCities.toLong * historyDays * perDay + nCities.toLong * cycles

  def build(): Unit = {
    conf = Pipeline.Config(root("lake"), cities, fullRefreshGold = false)
    backfill(-1, Tracer.off, conf, history(cities.map(_.name), historyDays, perDay),
      nCities.toLong * historyDays, fullRefresh = false)
  }

  private def day(i: Int): Int = historyDays + 1 + i

  def warmUp(): Unit = {
    cycle(-1, Tracer.off, conf, new CountingFetcher(new FakeFetcher(gen, historyDays, latencyMs)), historyDays)
    cycles = 1
  }

  def op(i: Int, t: Tracer): OpOut = {
    cycles += 1
    cycle(i, t, conf, new CountingFetcher(new FakeFetcher(gen, day(i), latencyMs)), day(i))
  }

  def verify(i: Int, out: OpOut): Boolean = out.parts.values.forall(_ == nCities.toLong)

  /** One read of gold and the ledger at the end: a wrong history row fails
    * every op, a wrong row of an op's date fails that op. */
  override def finish(): Set[Int] = {
    val ops = cycles - 1
    val expected = (for (c <- cities.map(_.name); d <- 0 until historyDays + cycles)
      yield (c, gen.date(d)) ->
        (if (d < historyDays) gen.goldOf(c, d, perDay, Workload.NullRate) else gen.goldOfFetch(c, d))).toMap
    val badDates = Checks.badGold(spark, conf.goldRoot, expected).map(_._2) ++
      Checks.badLedger(spark, conf.metadataPath,
        (0 until historyDays + cycles).map(d => gen.date(d) -> cities.map(_.name).toSet).toMap)
    val opOf = (0 until ops).map(i => gen.date(day(i)) -> i).toMap
    if (badDates.exists(d => !opOf.contains(d))) (0 until ops).toSet
    else badDates.map(opOf)
  }
}

object DailyIncremental {
  private val nCities = 2
  private val historyDays = 33 // past the 32-path parallel-listing threshold
  private val perDay = 24
  private val latencyMs = 100L
}

/** A backfill of cached bronze rows into fresh roots. Few partitions with
  * many rows each, so parsing, casting, filtering, writing and aggregating
  * rows outweigh the per-partition and per-job costs that dominate the other
  * workloads; fewer than 33 dates per city, so no parallel listing.
  * Ingestion is bypassed. */
final class BulkBackfill(spark: SparkSession, gen: Gen, work: File) extends Workload(spark, gen, work) {
  import BulkBackfill._

  private val cities = gen.cities(nCities).map(_.name)
  private var input: DataFrame = _
  private var expected: Map[Checks.Key, GoldRow] = Map.empty
  private var conf: Pipeline.Config = _

  def lake: Pipeline.Config = conf
  def bronzeRows: Long = nCities.toLong * days * perDay

  /** Generated bronze rows, cached so each op measures the layers only. */
  private def generate(): DataFrame = {
    val (g, cs, ndays, n) = (gen, cities, days, perDay)
    spark.range(0L, cs.size.toLong * ndays, 1L, 8)
      .flatMap { (k: java.lang.Long) =>
        val c = cs((k / ndays).toInt)
        val d = (k % ndays).toInt
        Iterator.tabulate(n)(i => g.bronzeRow(c, d, i, n, Workload.NullRate))
      }(Encoders.row(Schemas.bronze))
      .toDF()
  }

  def build(): Unit = {
    input = generate().cache()
    input.count()
    expected = (for (c <- cities; d <- 0 until days)
      yield (c, gen.date(d)) -> gen.goldOf(c, d, perDay, Workload.NullRate)).toMap
  }

  def warmUp(): Unit = {
    conf = Pipeline.Config(root("warmup"))
    backfill(-1, Tracer.off, conf, input, nCities.toLong * days, fullRefresh = true)
    remove(conf.root)
  }

  def op(i: Int, t: Tracer): OpOut = {
    conf = Pipeline.Config(root(s"op$i"))
    OpOut(bronzeRows, backfill(i, t, conf, input, nCities.toLong * days, fullRefresh = true))
  }

  def verify(i: Int, out: OpOut): Boolean =
    out.parts.values.forall(_ == nCities.toLong * days) && goldOk(conf, expected)

  override def afterOp(i: Int): Unit = remove(conf.root)
}

object BulkBackfill {
  private val nCities = 8
  private val days = 2
  private val perDay = 12500
}

/** A static lake of the reference's cities read by a seeded mix of analyst
  * queries through `ParquetLake.read`: listing, pruning and footers only. */
final class AnalystReads(spark: SparkSession, gen: Gen, work: File, days: Int = 16, perDay: Int = 96)
    extends Workload(spark, gen, work) {

  private val cities = Ingestion.defaultCities.map(_.name)
  private val queries = gen.queries(4096, cities, days)
  private var conf: Pipeline.Config = _

  def lake: Pipeline.Config = conf
  def bronzeRows: Long = cities.size.toLong * days * perDay

  def build(): Unit = {
    conf = Pipeline.Config(root("lake"))
    backfill(-1, Tracer.off, conf, history(cities, days, perDay), cities.size.toLong * days,
      fullRefresh = false)
  }

  def warmUp(): Unit = (0 until 8).foreach(i => run(queries(queries.size - 1 - i), -1, Tracer.off))

  private def run(q: Query, i: Int, t: Tracer): Seq[Seq[Any]] = {
    val table = t.span(i, "resolve")(ParquetLake.read(spark, q match {
      case _: SilverDay => conf.silverRoot
      case _ => conf.goldRoot
    }))
    val df = q match {
      case GoldPoint(c, d) =>
        table.filter(col("city") === c && col("date") === sqlDate(d))
          .select("avg_temp", "min_temp", "max_temp", "record_count")
      case GoldTrend(c, d, n) =>
        table.filter(col("city") === c && col("date").between(sqlDate(d), sqlDate(d + n - 1)))
          .select("date", "avg_temp").orderBy("date")
      case SilverDay(c, d) =>
        table.filter(col("city") === c && col("date") === sqlDate(d))
          .select("timestamp", "temperature").orderBy("timestamp")
      case GoldRank(d) =>
        table.filter(col("date") === sqlDate(d))
          .select("city", "avg_temp").orderBy(desc("avg_temp"), asc("city"))
    }
    t.span(i, "exec")(df.collect()).toSeq.map(Checks.plain)
  }

  def expected(q: Query): Seq[Seq[Any]] = q match {
    case GoldPoint(c, d) =>
      val g = gen.goldOf(c, d, perDay, Workload.NullRate)
      Seq(Seq(g.avg, g.min, g.max, g.count))
    case GoldTrend(c, d, n) =>
      (d until d + n).map(x => Seq(gen.date(x), gen.goldOf(c, x, perDay, Workload.NullRate).avg))
    case SilverDay(c, d) =>
      (0 until perDay).flatMap(i =>
        gen.temp(c, d, i, Workload.NullRate).map(t => Seq(gen.epochSecond(d, i, perDay), t)))
    case GoldRank(d) =>
      cities.map(c => (c, gen.goldOf(c, d, perDay, Workload.NullRate).avg))
        .sortBy { case (c, a) => (-a, c) }.map { case (c, a) => Seq(c, a) }
  }

  def query(i: Int): Query = queries(i % queries.size)

  override def round: Int = QueryBlock

  def op(i: Int, t: Tracer): OpOut = {
    val r = run(query(i), i, t)
    OpOut(r.size.toLong, result = r)
  }

  def verify(i: Int, out: OpOut): Boolean = out.result == expected(query(i))
}
