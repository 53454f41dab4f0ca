package graft.pipeline

import java.sql.Date
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.WeatherFixtures._

/** End-to-end pipeline semantics, mirroring the reference's workflow
  * (README.md:104-117): incremental processing, idempotent reruns, partition
  * overwrite isolation. */
class PipelineSpec extends SparkFunSuite {

  private class FakeFetcher(temps: Map[String, Double]) extends Ingestion.Fetcher {
    def fetch(city: Ingestion.City): String = apiJson(temps(city.name))
  }

  test("full pipeline run: ingest -> bronze -> silver -> gold") {
    val root = tmpDir("pipe")
    val conf = Pipeline.Config(root, cities = Ingestion.defaultCities.take(2))
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5, "London" -> 8.25))
    val res = Pipeline.run(spark, conf, fetcher, Date.valueOf("2026-02-13"))
    assert(res.silverPartitions == 2 && res.goldPartitions == 2)

    val gold = spark.read.parquet(conf.goldRoot)
    val rows = gold.orderBy("city").collect()
    assert(rows.map(_.getAs[String]("city")).toSeq == Seq("Delhi", "London"))
    val delhi = rows(0)
    assert(delhi.getAs[Double]("avg_temp") == 31.5)
    assert(delhi.getAs[Long]("record_count") == 1L)
    // ledger has one row per (layer, city, date)
    val ledger = MetadataLedger.read(spark, conf.metadataPath)
    assert(ledger.size == 4)
  }

  test("rerun is incremental and idempotent: second run processes 0 silver partitions") {
    val root = tmpDir("pipe")
    val conf = Pipeline.Config(root, cities = Ingestion.defaultCities.take(2),
      fullRefreshGold = false)
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5, "London" -> 8.25))
    val d = Date.valueOf("2026-02-13")
    Pipeline.run(spark, conf, fetcher, d)
    val second = Pipeline.run(spark, conf, fetcher, d)
    assert(second.silverPartitions == 0, "second run must skip processed partitions")
    assert(second.goldPartitions == 0)
    // gold still exactly 2 partitions, record_count still 1 (the second
    // bronze append is ignored because the partition was already processed)
    val gold = spark.read.parquet(conf.goldRoot)
    assert(gold.count() == 2)
    assert(gold.agg(max("record_count")).head.getLong(0) == 1L)
  }

  test("fullRefresh gold reprocesses everything (the reference's shipped default)") {
    val root = tmpDir("pipe")
    val conf = Pipeline.Config(root, cities = Ingestion.defaultCities.take(2),
      fullRefreshGold = true)
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5, "London" -> 8.25))
    val d = Date.valueOf("2026-02-13")
    Pipeline.run(spark, conf, fetcher, d)
    val second = Pipeline.run(spark, conf, fetcher, d)
    assert(second.silverPartitions == 0)
    assert(second.goldPartitions == 2, "fullRefresh recomputes all gold partitions")
    // still idempotent output: second bronze append lands in the same
    // partitions but silver never reprocessed them, so gold is unchanged
    assert(spark.read.parquet(conf.goldRoot).count() == 2)
  }

  test("new partition on a later run is picked up; old partitions untouched") {
    val root = tmpDir("pipe")
    val conf = Pipeline.Config(root, cities = Ingestion.defaultCities.take(1),
      fullRefreshGold = false)
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5))
    Pipeline.run(spark, conf, fetcher, Date.valueOf("2026-02-13"))
    val goldFile1 = spark.read.parquet(conf.goldRoot)
      .filter(col("date") === lit("2026-02-13")).collect()
    val res2 = Pipeline.run(spark, conf, fetcher, Date.valueOf("2026-02-14"))
    assert(res2.silverPartitions == 1 && res2.goldPartitions == 1)
    val gold = spark.read.parquet(conf.goldRoot)
    assert(gold.select("date").distinct().count() == 2)
    // the day-1 partition survived the day-2 dynamic overwrite
    val goldFile1After = gold.filter(col("date") === lit("2026-02-13")).collect()
    assert(goldFile1.toSeq == goldFile1After.toSeq)
  }

  private def goldRows(conf: Pipeline.Config): Seq[Row] =
    spark.read.parquet(conf.goldRoot).select("city", "date", "avg_temp", "record_count")
      .orderBy("city", "date").collect().toSeq

  test("a crash at any ledger publish step leaves the next run equal to a clean one") {
    // day 1, then a same-day rerun whose bronze append the ledger skips, then
    // day 2. Losing day 1's stamps would reprocess it and count that append.
    val (day1, day2) = (Date.valueOf("2026-02-13"), Date.valueOf("2026-02-14"))
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5, "London" -> 8.25))
    def keys(day: Date) = Seq(Row("Delhi", day), Row("London", day))
    def scenario(crash: Option[(String, Seq[Row])]): (Pipeline.RunResult, Seq[Row], Seq[Row]) = {
      val conf = Pipeline.Config(tmpDir("pipecrash"), cities = Ingestion.defaultCities.take(2),
        fullRefreshGold = false)
      Pipeline.run(spark, conf, fetcher, day1)
      Pipeline.run(spark, conf, fetcher, day1)
      // a silver stamp of `keys` aborted at `step`, as a crashed writer leaves it
      for ((step, keys) <- crash) {
        MetadataLedger.onStepForTest = s => if (s == step) throw new IllegalStateException(s"crash at $s")
        try intercept[IllegalStateException](MetadataLedger.upsert(spark, conf.metadataPath, Silver.layerName, keys))
        finally MetadataLedger.onStepForTest = _ => ()
      }
      val res = Pipeline.run(spark, conf, fetcher, day2)
      (res, goldRows(conf), MetadataLedger.read(spark, conf.metadataPath).map(r => Row(r.get(0), r.get(1), r.get(2)))
        .sortBy(_.toString))
    }
    val clean = scenario(None)
    assert(clean._1 == Pipeline.RunResult(2, 2))
    assert(clean._2.map(_.getLong(3)) == Seq(1L, 1L, 1L, 1L))
    // unpublished stamps for day 2 must not count; published re-stamps of day 1 must
    for (crash <- Seq("written" -> (keys(day1) ++ keys(day2)), "published" -> keys(day1)))
      assert(scenario(Some(crash)) == clean, s"crash at ${crash._1}")
  }

  test("a null reading fails its partition only: gold moves on for every other city") {
    val days = Seq("2026-02-13", "2026-02-14", "2026-02-15").map(Date.valueOf)
    val nullReading = apiJson(0.0).replace("\"temperature_2m\":0.0", "\"temperature_2m\":null")
    // a malformed body lands as an all-null bronze row and takes the same path
    for (badBody <- Seq(nullReading, "{not json")) {
      val conf = Pipeline.Config(tmpDir("pipenull"), cities = Ingestion.defaultCities.take(2))
      def fetcher(badLondon: Boolean) = new Ingestion.Fetcher {
        def fetch(city: Ingestion.City): String =
          if (badLondon && city.name == "London") badBody
          else apiJson(if (city.name == "Delhi") 31.5 else 8.25)
      }
      assert(Pipeline.run(spark, conf, fetcher(badLondon = false), days(0)) == Pipeline.RunResult(2, 2))
      for ((day, badLondon) <- Seq(days(1) -> true, days(2) -> false)) {
        val e = intercept[Layers.EmptyPartitionsException](Pipeline.run(spark, conf, fetcher(badLondon), day))
        assert(e.getMessage == "empty partitions after transform: London/2026-02-14",
          s"$badBody, $day: ${e.getMessage}")
      }
      val gold = goldRows(conf).map(r => (r.getString(0), r.getDate(1)))
      assert(gold == Seq("Delhi" -> days(0), "Delhi" -> days(1), "Delhi" -> days(2),
        "London" -> days(0), "London" -> days(2)), badBody)
    }
  }

  test("any other silver failure stops the run before gold") {
    val conf = Pipeline.Config(tmpDir("pipestop"), cities = Ingestion.defaultCities.take(2))
    val fetcher = new FakeFetcher(Map("Delhi" -> 31.5, "London" -> 8.25))
    val (day1, day2) = (Date.valueOf("2026-02-13"), Date.valueOf("2026-02-14"))
    Pipeline.run(spark, conf, fetcher, day1)
    // silver writes day 2, then its ledger stamp fails
    MetadataLedger.onStepForTest = s => if (s == "written") throw new IllegalStateException("stamp failed")
    val e = try intercept[IllegalStateException](Pipeline.run(spark, conf, fetcher, day2))
    finally MetadataLedger.onStepForTest = _ => ()
    assert(e.getMessage == "stamp failed" && e.getSuppressed.isEmpty)
    assert(goldRows(conf).map(_.getDate(1)).distinct == Seq(day1), "gold must not run over unstamped silver")
    assert(MetadataLedger.processed(spark, conf.metadataPath, Gold.layerName) ==
      Set(Row("Delhi", day1), Row("London", day1)))
  }
}
