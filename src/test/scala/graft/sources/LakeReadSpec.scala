package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Date

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkFunSuite
import graft.pipeline.{Ingestion, Pipeline}
import graft.pipeline.WeatherFixtures._

/** The analyst read ([[ParquetLake.read]]) resolves on the driver, from one
  * footer, and answers exactly as Spark's own schema inference
  * (`spark.read.parquet(root)`) does. */
class LakeReadSpec extends SparkFunSuite {

  /** A lake of 2 cities x 3 dates built by the pipeline itself. */
  private lazy val lake: Pipeline.Config = {
    val conf = Pipeline.Config(tmpDir("lakeread"), Ingestion.defaultCities.take(2),
      fullRefreshGold = false)
    val fetcher = new Ingestion.Fetcher {
      def fetch(city: Ingestion.City): String = apiJson(city.name.length + 0.25)
    }
    for (d <- Seq("2026-02-13", "2026-02-14", "2026-02-15"))
      assert(Pipeline.run(spark, conf, fetcher, Date.valueOf(d)) == Pipeline.RunResult(2, 2))
    conf
  }

  /** `read(root)` has Spark's inferred schema, column order and rows. */
  private def assertSameAsSpark(root: String): Unit = {
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val ours = ParquetLake.read(spark, root)
    val spark0 = spark.read.parquet(root)
    assert(ours.schema == spark0.schema, root)
    assert(sorted(ours) == sorted(spark0), root)
  }

  private def resolveJobs(root: String): Seq[String] = jobsOf(ParquetLake.read(spark, root))

  /** A Spark-written Parquet file whose only column is `bogus`. */
  private def bogusFile(): File = {
    val dir = tmpDir("bogus") + "/t"
    spark.sql("SELECT 'x' AS bogus").coalesce(1).write.parquet(dir)
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  private def put(src: File, dst: File): Unit = {
    dst.getParentFile.mkdirs()
    Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  test("resolving the pipeline's layers submits no Spark job") {
    for (root <- Seq(lake.goldRoot, lake.silverRoot, lake.bronzeRoot)) {
      val jobs = resolveJobs(root)
      assert(jobs.isEmpty, s"$root: ${jobs.size} jobs")
    }
    val gold = ParquetLake.read(spark, lake.goldRoot)
    assert(gold.filter("city = 'Delhi'").count() == 3)
  }

  test("bronze, silver and gold read as Spark infers them") {
    for (root <- Seq(lake.bronzeRoot, lake.silverRoot, lake.goldRoot)) assertSameAsSpark(root)
    assert(ParquetLake.read(spark, lake.goldRoot).columns.takeRight(2).toSeq == Seq("city", "date"))
  }

  test("null, zero-padded and escaped partition names read as Spark infers them") {
    def table(schema: String, parts: String, rows: String): String = {
      val root = tmpDir("lakeread") + "/t"
      spark.sql(s"SELECT * FROM VALUES $rows AS t($schema)").write.partitionBy(parts).parquet(root)
      root
    }
    assertSameAsSpark(table("v, region", "region", "(1L, '007'), (2L, '010'), (3L, NULL)"))
    assertSameAsSpark(table("v, cell_id", "cell_id", "(1L, 7), (2L, -1), (3L, NULL)"))
    val cities = Seq("New York", "a=b", "x/y", "São Paulo", "50% off", "{br}[ack]?*")
    val escaped = table("v, city, date", "city",
      cities.zipWithIndex.map { case (c, i) => s"(${i}L, '$c', DATE'2026-02-13')" }.mkString(", "))
    assertSameAsSpark(escaped)
    assert(resolveJobs(escaped).isEmpty)
    assert(ParquetLake.read(spark, escaped).select("city").collect().map(_.getString(0)).toSet ==
      cities.toSet)
  }

  test("a type only Spark's stored footer schema records is read back") {
    val root = tmpDir("lakeread") + "/t"
    spark.sql("SELECT CAST('a' AS STRING COLLATE UTF8_LCASE) AS name, 'x' AS region")
      .write.partitionBy("region").parquet(root)
    assertSameAsSpark(root)
    assert(ParquetLake.read(spark, root).schema("name").dataType.sql == "STRING COLLATE UTF8_LCASE")
  }

  test("empty leaves, marker-only leaves and hidden output are skipped") {
    val root = tmpDir("lakeread") + "/t"
    val data = StructType(Seq(StructField("v", LongType), StructField("city", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L, "Zurich"))), data)
      .write.partitionBy("city").parquet(root)
    val bogus = bogusFile()
    // siblings that any listing order may put first: none holds a visible data file
    for (c <- Seq("Accra", "Bogota", "Cairo", "Dakar")) assert(new File(root, s"city=$c").mkdirs())
    put(bogus, new File(root, "city=Accra/_temporary/0/part-0.parquet"))
    put(bogus, new File(root, "city=Bogota/.part-0.parquet"))
    put(bogus, new File(root, "city=Cairo/_SUCCESS"))
    put(bogus, new File(root, "_temporary/0/city=Accra/part-0.parquet"))
    put(bogus, new File(root, ".staging/city=Accra/part-0.parquet"))
    assertSameAsSpark(root)
    assert(ParquetLake.read(spark, root).schema.fieldNames.toSeq == Seq("v", "city"))
    assert(resolveJobs(root).isEmpty, "the search went on past the empty leaves")
  }

  test("a missing root and a root with no data file fail with Spark's own error") {
    val base = tmpDir("lakeread")
    val missing = intercept[AnalysisException](ParquetLake.read(spark, s"$base/nope"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    val bogus = bogusFile()
    put(bogus, new File(base, "t/_temporary/0/city=Accra/part-0.parquet"))
    put(bogus, new File(base, "t/_SUCCESS"))
    assert(new File(base, "t/city=Bogota").mkdirs())
    val empty = intercept[AnalysisException](ParquetLake.read(spark, s"$base/t"))
    assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA", empty.getMessage)
  }
}
