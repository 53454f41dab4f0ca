package graft.pipeline

import java.sql.Date
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.WeatherFixtures._
import graft.sources.ParquetLake

class LayersSpec extends SparkFunSuite {

  private def key(city: String, date: String) = Row(city, Date.valueOf(date))

  private def record(meta: String, layer: String, keys: Seq[Row]): Unit =
    MetadataLedger.upsert(spark, meta, layer, keys)

  private def keysOf(dirs: Seq[ParquetLake.PartitionDir]): Set[Row] = dirs.map(_.values).toSet

  /** A bronze table with one row per (city, date) and a ledger holding `done` for silver. */
  private def lake(rows: Seq[BronzeRow], done: Seq[Row]): (String, String) = {
    val root = tmpDir("layers")
    writeBronze(spark, rows, s"$root/data")
    MetadataLedger.ensure(spark, s"$root/meta")
    if (done.nonEmpty) record(s"$root/meta", Silver.layerName, done)
    (s"$root/data", s"$root/meta")
  }

  test("pendingDirs = available minus processed (anti-join semantics)") {
    val (data, meta) = lake(Seq(bronzeRow("Delhi", "2026-02-13"),
      bronzeRow("London", "2026-02-13"), bronzeRow("Delhi", "2026-02-14")),
      done = Seq(key("Delhi", "2026-02-13")))
    // a key recorded for another layer does not count as processed here
    record(meta, Gold.layerName, Seq(key("London", "2026-02-13")))
    assert(keysOf(Layers.pendingDirs(spark, data, meta, Silver.layerName)) ==
      Set(key("Delhi", "2026-02-14"), key("London", "2026-02-13")))
    assert(keysOf(Layers.pendingDirs(spark, data, meta, Gold.layerName)) ==
      Set(key("Delhi", "2026-02-13"), key("Delhi", "2026-02-14")))
    assert(Layers.pendingDirs(spark, data, meta, Silver.layerName, fullRefresh = true).size == 3)
  }

  test("reading the pending dirs yields exactly the pending partitions") {
    val (data, meta) = lake(Seq(bronzeRow("Delhi", "2026-02-13"),
      bronzeRow("London", "2026-02-13"), bronzeRow("Delhi", "2026-02-14")),
      done = Seq(key("Delhi", "2026-02-13"), key("London", "2026-02-13")))
    val pending = Layers.pendingDirs(spark, data, meta, Silver.layerName)
    val out = ParquetLake.readPartitions(spark, data, Schemas.bronze, pending)
    assert(out.select("city", "date").distinct().collect().map(r =>
      (r.getString(0), r.getDate(1).toString)).toSeq == Seq(("Delhi", "2026-02-14")))
  }

  test("a read of >256 pending dirs equals the filtered full read") {
    val rows = for (c <- 1 to 3; d <- 1 to 100)
      yield bronzeRow(s"City$c", LocalDate.of(2026, 1, 1).plusDays(d).toString)
    val done = rows.take(40).map(r => Row(r.city, r.date))
    val (data, meta) = lake(rows, done)
    val pending = Layers.pendingDirs(spark, data, meta, Silver.layerName)
    assert(pending.size == 260)
    val scoped = ParquetLake.readPartitions(spark, data, Schemas.bronze, pending)
      .collect().toSet
    val doneSet = done.toSet
    val expected = spark.read.schema(Schemas.bronze).parquet(data).collect()
      .filterNot(r => doneSet.contains(Row(r.getAs[String]("city"), r.getAs[Date]("date")))).toSet
    assert(scoped == expected)
    assert(scoped.size == 260)
  }

  test("no pending dirs: nothing is read") {
    val (data, meta) = lake(Seq(bronzeRow("Delhi", "2026-02-13")),
      done = Seq(key("Delhi", "2026-02-13")))
    val pending = Layers.pendingDirs(spark, data, meta, Silver.layerName)
    assert(pending.isEmpty)
    val out = ParquetLake.readPartitions(spark, data, Schemas.bronze, pending)
    assert(out.count() == 0 && out.schema == Schemas.bronze)
  }

  test("a null partition stays pending until its null key is recorded") {
    val (data, meta) = lake(Seq(bronzeRow(null, "2026-02-13"), bronzeRow("Delhi", "2026-02-13")),
      done = Seq(key("Delhi", "2026-02-13")))
    val pending = Layers.pendingDirs(spark, data, meta, Silver.layerName)
    assert(keysOf(pending) == Set(Row(null, Date.valueOf("2026-02-13"))))
    val out = ParquetLake.readPartitions(spark, data, Schemas.bronze, pending)
    assert(out.select("city").collect().toSeq == Seq(Row(null)))
    record(meta, Silver.layerName, pending.map(_.values))
    assert(Layers.pendingDirs(spark, data, meta, Silver.layerName).isEmpty)
  }

  private def silverStep(data: String, meta: String, out: String,
                         transform: DataFrame => DataFrame): Long =
    Layers.step(spark, Silver.layerName, data, Schemas.bronze, out, meta, transform,
      writeOptions = Map.empty, fullRefresh = false)

  test("step: an emptied pending partition is named in the error") {
    val (data, meta) = lake(Seq(bronzeRow("Delhi", "2026-02-13"),
      bronzeRow("Paris", "2026-02-13")), done = Nil)
    val out = tmpDir("step") + "/t"
    val e = intercept[IllegalStateException] {
      silverStep(data, meta, out, _.filter(col("city") =!= "Paris"))
    }
    assert(e.getMessage.contains("Paris") && !e.getMessage.contains("Delhi"), e.getMessage)
    // the partition that produced rows is stamped; the emptied one stays pending
    assert(MetadataLedger.processed(spark, meta, Silver.layerName) == Set(key("Delhi", "2026-02-13")))
    assert(silverStep(data, meta, out, identity) == 1)
    assert(keysOf(ParquetLake.partitionDirs(spark, out, Schemas.partition)) ==
      Set(key("Delhi", "2026-02-13"), key("Paris", "2026-02-13")))
    assert(Layers.pendingDirs(spark, data, meta, Silver.layerName).isEmpty)
  }

  test("step: a failed check is counted off the write and stamps nothing") {
    val (data, meta) = lake(Seq(bronzeRow("Delhi", "2026-02-13", temp = null),
      bronzeRow("London", "2026-02-13"), bronzeRow("London", "2026-02-13", hour = 10, temp = null)),
      done = Nil)
    val out = tmpDir("step") + "/t"
    val nullTemp: DataFrame => DataFrame = _.withColumn("temperature_2m",
      when(col("temperature_2m").isNull, raise_error(lit("NULL temperature_2m")))
        .otherwise(col("temperature_2m")))
    val e = intercept[RuntimeException](silverStep(data, meta, out, nullTemp))
    assert(e.getMessage.contains("NULL temperature_2m"), e.getMessage)
    // the check fails the write itself: no output, no staging sibling, and
    // both partitions pending
    assert(new java.io.File(out).getParentFile.list().isEmpty)
    assert(Layers.pendingDirs(spark, data, meta, Silver.layerName).size == 2)
    assert(silverStep(data, meta, out, identity) == 2, "the rerun processes both partitions")
  }
}
