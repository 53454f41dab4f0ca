package graft.pipeline

import java.sql.Date
import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.WeatherFixtures._

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

  test("gold files carry no column statistics") {
    val root = tmpDir("sgstats")
    writeBronze(spark, Seq(bronzeRow("Delhi", "2026-02-13")), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = spark.read.parquet(s"$root/gold").inputFiles.toSeq
    assert(files.size == 1)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(files.head), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      assert(cols.size == 4)
      cols.forEach(c => assert(c.getStatistics == null || c.getStatistics.isEmpty, c.getPath))
    } finally reader.close()
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

  test("gold: null avg guard fires") {
    import spark.implicits._
    val bad = Seq(("Delhi", Date.valueOf("2026-02-13"), null.asInstanceOf[java.lang.Double]))
      .toDF("city", "date", "avg_temp")
    val e = intercept[IllegalStateException] { Gold.requireNoNullAggregates(bad) }
    assert(e.getMessage.contains("NULL avg_temp"))
  }

  test("gold: observed null-avg guard fires off the write action itself") {
    import spark.implicits._
    val bad = Seq(
      ("Delhi", Date.valueOf("2026-02-13"), null.asInstanceOf[java.lang.Double]),
      ("London", Date.valueOf("2026-02-13"), java.lang.Double.valueOf(8.0)))
      .toDF("city", "date", "avg_temp")
    val (inst, validate) = Gold.requireNoNullAggregatesObserved(bad)
    inst.write.mode("overwrite").parquet(tmpDir("sgobs") + "/out")
    val e = intercept[IllegalStateException] { validate() }
    assert(e.getMessage.contains("1 gold partitions produced NULL avg_temp"))
    // clean frame passes
    val ok = Seq(("Delhi", Date.valueOf("2026-02-13"), java.lang.Double.valueOf(30.0)))
      .toDF("city", "date", "avg_temp")
    val (inst2, validate2) = Gold.requireNoNullAggregatesObserved(ok)
    inst2.write.mode("overwrite").parquet(tmpDir("sgobs") + "/out2")
    validate2() // must not throw
  }

  test("silver+gold: observed and legacy validation paths are write-identical") {
    val rows = Seq(
      bronzeRow("Delhi", "2026-02-13", hour = 9, temp = 30.0),
      bronzeRow("Delhi", "2026-02-13", hour = 10, temp = 34.0),
      bronzeRow("London", "2026-02-13", hour = 9, temp = 8.0))
    def runBoth(observed: Boolean): (Seq[String], Seq[String]) = {
      val root = tmpDir(s"sgpar$observed")
      writeBronze(spark, rows, s"$root/data")
      MetadataLedger.ensure(spark, s"$root/meta")
      val nS = Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta",
        observedValidation = observed)
      val nG = Gold.run(spark, s"$root/silver", s"$root/gold", s"$root/meta",
        observedValidation = observed)
      assert(nS == 2 && nG == 2)
      (spark.read.parquet(s"$root/silver").collect().map(_.toString).sorted.toSeq,
       spark.read.parquet(s"$root/gold").collect().map(_.toString).sorted.toSeq)
    }
    val (sObs, gObs) = runBoth(observed = true)
    val (sLeg, gLeg) = runBoth(observed = false)
    assert(sObs == sLeg, "silver rows must not depend on the validation mode")
    assert(gObs == gLeg, "gold rows must not depend on the validation mode")
  }

  test("silver: empty-partition guard throw-parity on the legacy path") {
    val root = tmpDir("sgleg")
    writeBronze(spark, Seq(bronzeRow("Tokyo", "2026-02-13", temp = null)), s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    val e = intercept[IllegalStateException] {
      Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta",
        observedValidation = false)
    }
    assert(e.getMessage.contains("empty partitions"))
    // and on the observed path the ledger stays unstamped, so a fixed rerun reprocesses
    val e2 = intercept[IllegalStateException] {
      Silver.run(spark, s"$root/data", s"$root/silver", s"$root/meta")
    }
    assert(e2.getMessage.contains("empty partitions"))
    assert(MetadataLedger.read(spark, s"$root/meta").count() == 0,
      "a failed validation must not stamp the ledger in either mode")
  }
}
