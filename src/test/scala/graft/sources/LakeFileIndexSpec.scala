package graft.sources

import java.io.File
import java.sql.Date
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.{Gold, Ingestion, Layers, Pipeline, Schemas, Silver}
import graft.pipeline.WeatherFixtures._

/** The catalog-backed relation behind [[ParquetLake.read]] and
  * [[ParquetLake.readPartitions]]: which directories it lists, and its
  * parity with Spark's own file source beyond [[LakeReadSpec]]'s cases. */
class LakeFileIndexSpec extends SparkFunSuite {
  import spark.implicits._
  import LakeFileIndexSpec.RecordingFileSystem

  private val day0 = LocalDate.of(2026, 1, 1)
  private def date(d: Int) = Date.valueOf(day0.plusDays(d))

  /** A gold-shaped table of `cities` x `days` leaves, one file each. */
  private def goldLake(cities: Int, days: Int): String = {
    val root = tmpDir("lakeindex") + "/gold"
    spark.range(cities * days).select(
      concat(lit("City"), ($"id" % cities).cast("string")).as("city"),
      date_add(lit(date(0)), ($"id" / cities).cast("int")).as("date"),
      ($"id" * 0.5).as("avg_temp"), $"id".as("record_count"))
      .repartition($"city", $"date")
      .write.partitionBy("city", "date").parquet(root)
    root
  }

  private def leaf(root: String, city: String, d: Int) = s"$root/city=$city/date=${date(d)}"

  /** `body`'s result and the directories it listed through the `file:`
    * file system, in order, as local paths. */
  private def listings[T](body: => T): (T, Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = Seq("fs.file.impl", "fs.file.impl.disable.cache").map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[RecordingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    RecordingFileSystem.listed.clear()
    try {
      val result = body
      (result, RecordingFileSystem.listed.asScala.toSeq)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def index(df: DataFrame): FileIndex =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }.get

  private def point(df: DataFrame, city: String, d: Int): DataFrame =
    df.filter($"city" === city && $"date" === date(d))

  private def avgTemp(df: DataFrame): Seq[Double] = df.select("avg_temp").as[Double].collect().toSeq

  /** Overwrites the leaf (`city`, day `d`) with one row of `avg_temp`. */
  private def rewrite(root: String, city: String, d: Int, avg: Double): Unit =
    ParquetLake.overwritePartitions(Seq((city, date(d), avg, 1L)).toDF("city", "date", "avg_temp", "record_count"),
      root, Seq("city", "date"))

  test("a point query on 4 x 16 leaves lists the name levels, the footer's leaf and the leaf it keeps") {
    val root = goldLake(4, 16)
    val (df, resolve) = listings(ParquetLake.read(spark, root))
    val (rows, query) = listings(point(df, "City2", 9).collect())
    assert(rows.length == 1)
    val names = (root +: (0 until 4).map(c => s"$root/city=City$c")).toSet
    // the root and the four city directories, then the first leaf: its file gives the schema
    assert(resolve.size == 6 && resolve.init.toSet == names, resolve)
    assert(resolve.last.startsWith(s"$root/city=") && resolve.last.contains("/date="), resolve)
    val kept = leaf(root, "City2", 9)
    assert(query == (if (resolve.last == kept) Nil else Seq(kept)), query)
    val (_, spark0) = listings(point(spark.read.parquet(root), "City2", 9).collect())
    assert(spark0.toSet == names ++ (for (c <- 0 until 4; d <- 0 until 16) yield leaf(root, s"City$c", d)))
    info(s"list calls: ${resolve.size} to resolve and ${query.size} to run; " +
      s"spark.read.parquet: ${spark0.size}")
  }

  test("an incremental cycle lists as many directories at 330 dates per city as at 33") {
    def cycle(days: Int): Seq[String] = {
      val cities = Ingestion.defaultCities.take(2)
      val conf = Pipeline.Config(tmpDir("lakecycle"), cities, fullRefreshGold = false)
      writeBronze(spark, for (c <- cities; d <- 0 until days) yield bronzeRow(c.name, date(d).toString),
        conf.bronzeRoot)
      MetadataLedger.ensure(spark, conf.metadataPath)
      assert(Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath) == 2 * days)
      assert(Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath) == 2 * days)
      val fetcher = new Ingestion.Fetcher {
        def fetch(city: Ingestion.City): String = apiJson(12.5, time = s"${date(days)}T09:30")
      }
      val (result, listed) = listings(Pipeline.run(spark, conf, fetcher, date(days)))
      assert(result == Pipeline.RunResult(2, 2))
      assert(!listed.exists(_.contains(s"date=${date(0)}")), "a processed leaf was listed")
      listed
    }
    val (short, long) = (cycle(33), cycle(330))
    assert(short.size == long.size, s"33 dates: ${short.size} list calls, 330 dates: ${long.size}")
    info(s"list calls per cycle: ${short.size}")
  }

  test("a pending leaf that holds no data file is dropped, not named as emptied") {
    val root = tmpDir("lakeindex")
    val (data, meta, out) = (s"$root/data", s"$root/meta", s"$root/out")
    writeBronze(spark, Seq(bronzeRow("Delhi", "2026-02-13")), data)
    MetadataLedger.ensure(spark, meta)
    for (d <- Seq("city=Delhi/date=2026-02-14", "city=Paris/date=2026-02-13"))
      assert(new File(data, d).mkdirs())
    assert(Layers.pendingDirs(spark, data, meta, Silver.layerName).map(_.values) ==
      Seq(Row("Delhi", Date.valueOf("2026-02-13"))))
    assert(Layers.step(spark, Silver.layerName, data, Schemas.bronze, out, meta, identity,
      writeOptions = Map.empty, fullRefresh = false) == 1)
  }

  test("readPartitions has the schema and rows of Spark's basePath read of the same leaves") {
    val root = goldLake(2, 3)
    val schema = StructType(Schemas.partition.fields ++
      Seq(StructField("avg_temp", DoubleType, nullable = false), StructField("record_count", LongType)))
    val dirs = ParquetLake.partitionDirs(spark, root, Schemas.partition).take(4)
    val ours = ParquetLake.readPartitions(spark, root, schema, dirs)
    val spark0 = spark.read.schema(schema).option("basePath", root).parquet(dirs.map(_.path): _*)
    assert(ours.schema == spark0.schema)
    assert(ours.collect().map(_.toString).sorted.toSeq == spark0.collect().map(_.toString).sorted.toSeq)
    assert(ours.count() == 4)
  }

  test("a join that prunes the table dynamically reads the rows and files Spark's read does") {
    val root = goldLake(4, 4)
    val dimRoot = tmpDir("lakeindex") + "/dim"
    Seq(("City1", "north"), ("City2", "south"), ("City3", "north")).toDF("city", "region")
      .write.parquet(dimRoot)
    def run(table: DataFrame): (Seq[String], Long) = {
      val south = spark.read.parquet(dimRoot).filter($"region" === "south")
      val df = table.join(south, "city").select("city", "date", "avg_temp")
      val rows = df.collect().map(_.toString).sorted.toSeq
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.toLowerCase.contains("dynamicpruningexpression"), plan)
      val scans = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.head.getName == "gold" => s
      }
      (rows, scans.map(_.metrics("numFiles").value).sum)
    }
    val (ours, ourFiles) = run(ParquetLake.read(spark, root))
    val (theirs, theirFiles) = run(spark.read.parquet(root))
    assert(ours == theirs && ours.size == 4)
    assert(ourFiles == theirFiles && ourFiles == 4, s"files read: $ourFiles, Spark's read $theirFiles")
  }

  test("_metadata columns and input_file_name() answer as Spark's read does") {
    val root = goldLake(2, 3)
    def files(table: DataFrame) =
      table.select($"city", $"date", $"_metadata.file_path", $"_metadata.file_name",
        $"_metadata.file_size", input_file_name()).collect().map(_.toString).sorted.toSeq
    assert(files(ParquetLake.read(spark, root)) == files(spark.read.parquet(root)))
    def named(table: DataFrame) =
      point(table, "City1", 2).filter($"_metadata.file_name".startsWith("part-")).count()
    assert(named(ParquetLake.read(spark, root)) == 1)
  }

  test("an unpartitioned table is its root's one leaf, read as Spark reads it") {
    val root = tmpDir("lakeindex") + "/flat"
    spark.range(5).select($"id", ($"id" * 0.5).as("v")).repartition(2).write.parquet(root)
    def rows(table: DataFrame) =
      table.select($"*", $"_metadata.file_path").collect().map(_.toString).sorted.toSeq
    val (ours, spark0) = (ParquetLake.read(spark, root), spark.read.parquet(root))
    assert(ours.schema == spark0.schema && rows(ours) == rows(spark0))
    assert(ours.filter($"id" > 2).count() == 2)
  }

  test("two reads of one unchanged root have the same result, so a cached read is reused") {
    val root = goldLake(2, 3)
    val (a, b) = (ParquetLake.read(spark, root), ParquetLake.read(spark, root))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    a.cache()
    try {
      assert(a.count() == 6)
      assert(b.storageLevel != StorageLevel.NONE, "the second read missed the cache")
      rewrite(root, "City0", 3, 1.0) // a new leaf: a read that sees it is another table
      assert(ParquetLake.read(spark, root).storageLevel == StorageLevel.NONE)
    } finally a.unpersist(blocking = true)
  }

  test("refreshByPath on a cached read, and refresh(), drop the listed leaves") {
    val root = goldLake(2, 3)
    val cached = ParquetLake.read(spark, root).cache()
    try {
      assert(cached.count() == 6)
      rewrite(root, "City0", 1, 99.0)
      assert(avgTemp(point(cached, "City0", 1)) == Seq(1.0), "the cache holds the rows it read")
      spark.catalog.refreshByPath(root)
      assert(avgTemp(point(cached, "City0", 1)) == Seq(99.0))
    } finally cached.unpersist(blocking = true)

    val df = ParquetLake.read(spark, root)
    assert(avgTemp(point(df, "City1", 2)) == Seq(2.5))
    rewrite(root, "City1", 2, 77.0)
    // the leaf was listed by the first query: its old files are gone
    intercept[SparkException](point(df, "City1", 2).collect())
    index(df).refresh()
    assert(avgTemp(point(df, "City1", 2)) == Seq(77.0))
  }

  test("a leaf swapped after the read resolved, before any query kept it, is read fresh") {
    val root = goldLake(2, 3)
    val (df, resolve) = listings(ParquetLake.read(spark, root))
    val (city, d) = (for (c <- 0 until 2; d <- 0 until 3) yield (s"City$c", d))
      .find { case (c, d) => !resolve.contains(leaf(root, c, d)) }.get
    rewrite(root, city, d, 55.0)
    assert(avgTemp(point(df, city, d)) == Seq(55.0))
  }
}

object LakeFileIndexSpec {

  /** [[LocalLakeFileSystem]] recording the path of every list call. */
  class RecordingFileSystem extends LocalLakeFileSystem {
    private def record(f: Path): Unit = RecordingFileSystem.listed.add(f.toUri.getPath)
    override def listStatus(f: Path): Array[FileStatus] = { record(f); super.listStatus(f) }
    override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
      record(f); super.listLocatedStatus(f)
    }
    override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
      record(f); super.listStatusIterator(f)
    }
  }

  object RecordingFileSystem {
    val listed = new ConcurrentLinkedQueue[String]()
  }
}
