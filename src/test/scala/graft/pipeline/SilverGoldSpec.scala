package graft.pipeline

import java.sql.Date

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.WeatherFixtures._
import graft.sources.ParquetLake

class SilverGoldSpec extends SparkFunSuite {

  test("silver transform: rename, cast, timestamp parse, null drop") {
    val df = bronzeDf(spark, Seq(
      bronzeRow("Delhi", "2026-02-13", hour = 9, temp = 31.5),
      bronzeRow("Delhi", "2026-02-13", hour = 10, temp = null)))
    val out = Silver.transform(df)
    assert(out.columns.toSeq ==
      Seq("city", "date", "timestamp", "temperature", "wind_speed", "wind_direction", "weather_code"))
    val rows = out.collect()
    assert(rows.length == 1, "null temperature rows are dropped (silver.py:39)")
    val r = rows.head
    assert(r.getAs[java.sql.Timestamp]("timestamp").toString == "2026-02-13 09:30:00.0")
    assert(r.getAs[Double]("temperature") == 31.5)
    assert(r.getAs[Int]("wind_direction") == 180)
  }

  test("silver: empty pending partition triggers the empty-partition guard") {
    val root = tmpDir("sg")
    // a partition whose every row has null temperature -> transform drops all
    writeBronze(spark, Seq(bronzeRow("Tokyo", "2026-02-13", temp = null)), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    val e = intercept[IllegalStateException] {
      Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    }
    assert(e.getMessage.contains("empty partitions"))
    assert(MetadataLedger.read(spark, s"$root/meta").isEmpty,
      "a failed validation must not stamp the ledger, so a fixed rerun reprocesses")
  }

  // Named for the second validation path it once compared against; with one
  // path left, the parity checked is between a failed run and its rerun.
  test("silver: empty-partition guard throw-parity on the legacy path") {
    val root = tmpDir("sgleg")
    writeBronze(spark, Seq(bronzeRow("Tokyo", "2026-02-13", temp = null)), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    def failedRun(): String = intercept[IllegalStateException] {
      Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    }.getMessage
    val first = failedRun()
    assert(first.contains("empty partitions") && first.contains("Tokyo"), first)
    assert(MetadataLedger.read(spark, s"$root/meta").isEmpty,
      "a failed validation must not stamp the ledger")
    assert(failedRun() == first, "the unstamped partition is retried and fails the same way")
    // the fixed partition is processed and stamped
    writeBronze(spark, Seq(bronzeRow("Tokyo", "2026-02-13", temp = 12.0)), s"$root/data")
    assert(Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta") == 1)
    assert(MetadataLedger.read(spark, s"$root/meta").size == 1)
  }

  test("silver: missing bronze root is fatal (reference asymmetry, silver.py:8-12)") {
    val root = tmpDir("sg")
    intercept[Exception] {
      Silver.run(spark, s"$root/nope", s"$root/silver", s"$root/meta")
    }
  }

  test("gold: missing silver root yields an empty run, not an error (gold.py:26-28)") {
    val root = tmpDir("sg")
    MetadataLedger.ensure(spark, s"$root/meta")
    val n = Gold.run(spark, s"$root/nope", s"$root/gold", s"$root/meta")
    assert(n == 0)
  }

  test("silver+gold: a null-city partition is processed once, null-safely") {
    val root = tmpDir("sgnull")
    writeBronze(spark, Seq(bronzeRow(null, "2026-02-13", temp = 7.0),
      bronzeRow("Delhi", "2026-02-13", temp = 30.0)), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    def cycle(): (Long, Long) =
      (Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta"),
        Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta"))
    assert(cycle() == ((2L, 2L)))
    assert(cycle() == ((0L, 0L)), "the null key must be recorded and diffed null-safely")
    val gold = spark.read.parquet(s"$root/gold").filter(col("city").isNull).collect()
    assert(gold.map(_.getAs[Double]("avg_temp")).toSeq == Seq(7.0))
  }

  /** Per column of the one data file under `root`: whether it carries
    * Parquet min/max statistics. */
  private def columnStatistics(root: String): Seq[Boolean] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = spark.read.parquet(root).inputFiles.toSeq
    assert(files.size == 1, root)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(files.head), conf))
    try reader.getFooter.getBlocks.get(0).getColumns.asScala.map { c =>
      c.getStatistics != null && !c.getStatistics.isEmpty
    }.toSeq
    finally reader.close()
  }

  test("gold files carry no column statistics") {
    val root = tmpDir("sgstats")
    writeBronze(spark, Seq(bronzeRow("Delhi", "2026-02-13")), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta")
    assert(columnStatistics(s"$root/gold") == Seq.fill(4)(false))
  }

  test("bronze files carry no column statistics; silver files keep theirs") {
    val root = tmpDir("sgbstats")
    Bronze.run(spark, Seq("Delhi" -> apiJson(31.5)), s"$root/data", Date.valueOf("2026-02-13"))
    MetadataLedger.ensure(spark, s"$root/meta")
    Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    assert(columnStatistics(s"$root/data") == Seq.fill(Schemas.bronzePayload.length)(false))
    assert(columnStatistics(s"$root/silver") == Seq.fill(Schemas.silver.length - 2)(true))
  }

  test("no layer root holds a _SUCCESS marker") {
    val conf = Pipeline.Config(tmpDir("sgmarker"), Ingestion.defaultCities.take(2), fullRefreshGold = false)
    val fetcher = new Ingestion.Fetcher {
      def fetch(city: Ingestion.City): String = apiJson(12.5)
    }
    for (d <- Seq("2026-02-13", "2026-02-14")) Pipeline.run(spark, conf, fetcher, Date.valueOf(d))
    for (root <- Seq(conf.bronzeRoot, conf.silverRoot, conf.goldRoot))
      assert(new java.io.File(root).list().toSeq.filterNot(_.contains("=")) == Nil, root)
  }

  test("gold aggregate: avg/max/min/count per (city,date)") {
    val df = Silver.transform(bronzeDf(spark, Seq(
      bronzeRow("Delhi", "2026-02-13", hour = 9, temp = 30.0),
      bronzeRow("Delhi", "2026-02-13", hour = 10, temp = 34.0),
      bronzeRow("London", "2026-02-13", hour = 9, temp = 8.0))))
    val g = Gold.transform(df).orderBy("city").collect()
    assert(g.length == 2)
    assert(g(0).getAs[Double]("avg_temp") == 32.0)
    assert(g(0).getAs[Double]("max_temp") == 34.0)
    assert(g(0).getAs[Double]("min_temp") == 30.0)
    assert(g(0).getAs[Long]("record_count") == 2L)
  }

  private val day = Date.valueOf("2026-02-13")

  /** Silver rows for Delhi (temperature `delhiTemp`) and London (8.0) on `day`. */
  private def writeSilver(root: String, delhiTemp: java.lang.Double): Unit =
    ParquetLake.overwritePartitions(spark.createDataFrame(java.util.List.of(
      Row("Delhi", day, null, delhiTemp, 3.2, 180, 2),
      Row("London", day, null, 8.0, 3.2, 180, 2)), Schemas.silver),
      s"$root/silver", Schemas.partition.fieldNames.toSeq)

  test("gold: null avg guard fires") {
    val root = tmpDir("sgnullavg")
    writeSilver(root, null)
    MetadataLedger.ensure(spark, s"$root/meta")
    val e = intercept[IllegalStateException] {
      Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta")
    }
    assert(e.getMessage.contains("1 gold partitions produced NULL avg_temp"))
    assert(MetadataLedger.read(spark, s"$root/meta").isEmpty,
      "a failed guard must not stamp the ledger")
    writeSilver(root, 30.0)
    assert(Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta") == 2,
      "the unstamped partitions are processed on the rerun")
    assert(spark.read.parquet(s"$root/gold").orderBy("city").select("avg_temp").collect()
      .map(_.getDouble(0)).toSeq == Seq(30.0, 8.0))
  }

  test("gold: observed null-avg guard fires off the write action itself") {
    val root = tmpDir("sgobs")
    writeSilver(root, null)
    MetadataLedger.ensure(spark, s"$root/meta")
    val e = intercept[IllegalStateException] {
      Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta")
    }
    assert(e.getMessage.contains("1 gold partitions produced NULL avg_temp"), e.getMessage)
    // the count was observed as the write streamed the rows: the failed batch
    // is already on disk, NULL avg included, and only the ledger stamp is withheld
    val written = spark.read.parquet(s"$root/gold").orderBy("city")
      .select("city", "avg_temp").collect().toSeq
    assert(written == Seq(Row("Delhi", null), Row("London", 8.0)))
    assert(Layers.pendingDirs(spark, s"$root/silver", s"$root/meta", Gold.layerName).size == 2)
  }

  test("silver+gold: written rows equal the closed-form expected rows") {
    val root = tmpDir("sgrows")
    writeBronze(spark, Seq(
      bronzeRow("Delhi", "2026-02-13", hour = 9, temp = 30.0),
      bronzeRow("Delhi", "2026-02-13", hour = 10, temp = 34.0),
      bronzeRow("London", "2026-02-13", hour = 9, temp = 8.0)), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    assert(Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta") == 2)
    assert(Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta") == 2)
    def at(hour: Int) = java.sql.Timestamp.valueOf(f"2026-02-13 $hour%02d:30:00")
    val silver = spark.read.parquet(s"$root/silver")
      .select("city", "date", "timestamp", "temperature", "wind_speed", "wind_direction", "weather_code")
      .orderBy("city", "timestamp").collect().toSeq
    assert(silver == Seq(
      Row("Delhi", day, at(9), 30.0, 3.2, 180, 2),
      Row("Delhi", day, at(10), 34.0, 3.2, 180, 2),
      Row("London", day, at(9), 8.0, 3.2, 180, 2)))
    val gold = spark.read.parquet(s"$root/gold")
      .select("city", "date", "avg_temp", "max_temp", "min_temp", "record_count")
      .orderBy("city").collect().toSeq
    assert(gold == Seq(
      Row("Delhi", day, 32.0, 34.0, 30.0, 2L),
      Row("London", day, 8.0, 8.0, 8.0, 1L)))
  }
}
