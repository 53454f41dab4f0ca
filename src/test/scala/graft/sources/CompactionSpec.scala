package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.pipeline.WeatherFixtures._

class CompactionSpec extends SparkFunSuite {

  test("compactPartitions merges many tiny files and preserves every row") {
    val root = tmpDir("compact") + "/data"
    // simulate the reference's one-row-per-file landing: 30 separate appends
    val rows = (1 to 30).map(i => bronzeRow(s"City${i % 3}", f"2026-02-${i % 5 + 1}%02d", temp = i.toDouble))
    rows.foreach(r => writeBronze(spark, Seq(r), root))
    val beforeDf = spark.read.parquet(root).orderBy("city", "date", "temperature_2m").collect()
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("city", "date"))
    assert(before == 30, s"expected 30 pre-compaction files, got $before")
    assert(after < before, s"compaction must reduce file count ($before -> $after)")
    val afterDf = spark.read.parquet(root).orderBy("city", "date", "temperature_2m").collect()
    assert(afterDf.toSeq == beforeDf.toSeq, "compaction must not change data")
  }

  test("large partitions split into multiple files near the byte target") {
    val root = tmpDir("compact2") + "/data"
    // one big partition written as many tiny appends
    (1 to 20).foreach { i =>
      writeBronze(spark, (1 to 50).map(j =>
        bronzeRow("Mega", "2026-02-13", temp = (i * 100 + j).toDouble)), root)
    }
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("city", "date"),
      targetBytes = 4 * 1024) // tiny target to force intra-partition splitting
    assert(before >= 20)
    assert(after > 1, "a partition larger than the target must split into several files")
    assert(after < before)
    assert(spark.read.parquet(root).count() == 1000)
  }

  test("empty root is a no-op") {
    val root = tmpDir("compact3") + "/data"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    assert(ParquetLake.compactPartitions(spark, root, Seq("city", "date")) == ((0L, 0L)))
  }

  test("unpartitioned table compacts via atomic whole-table replace") {
    import spark.implicits._
    val root = tmpDir("compact4") + "/data"
    (1 to 60).toDF("n").repartition(30).write.mode("append").parquet(root)
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq.empty)
    assert(before == 30 && after < before,
      s"unpartitioned compaction must shrink the file count ($before -> $after)")
    assert(spark.read.parquet(root).as[Int].collect().sorted.toSeq == (1 to 60))
  }

  test("zero-padded string partitions are compacted in place") {
    import spark.implicits._
    val root = tmpDir("compact5") + "/data"
    Seq((1L, "007"), (2L, "007"), (3L, "010")).foreach { r =>
      Seq(r).toDF("id", "region").write.mode("append").partitionBy("region").parquet(root)
    }
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("region"))
    assert(before == 3 && after == 2, s"$before -> $after")
    assert(new java.io.File(root).list().filter(_.startsWith("region=")).sorted.toSeq ==
      Seq("region=007", "region=010"))
    val got = spark.read.schema("id LONG, region STRING").parquet(root)
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "007"), (2L, "007"), (3L, "010")))
  }

  test("the null partition is compacted with the others") {
    import spark.implicits._
    val root = tmpDir("compact7") + "/data"
    Seq((1L, null), (2L, null), (3L, "a"), (4L, "a")).foreach { r =>
      Seq(r).toDF("id", "region").write.mode("append").partitionBy("region").parquet(root)
    }
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("region"))
    assert(before == 4 && after == 2, s"$before -> $after")
    for (dir <- Seq("region=__HIVE_DEFAULT_PARTITION__", "region=a"))
      assert(new java.io.File(root, dir).list().count(_.endsWith(".parquet")) == 1, dir)
    val got = spark.read.schema("id LONG, region STRING").parquet(root)
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, None), (2L, None), (3L, Some("a")), (4L, Some("a"))))
  }

  test("a partition column named with a leading underscore is compacted") {
    import spark.implicits._
    val root = tmpDir("compact8") + "/data"
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"))
    rows.foreach(r => Seq(r).toDF("id", "_p").write.mode("append").partitionBy("_p").parquet(root))
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("_p"))
    assert(before == 4 && after == 2, s"$before -> $after")
    assert(spark.read.parquet(root).as[(Long, String)].collect().sorted.toSeq == rows)
  }

  test("a type only Spark's stored footer schema records survives compaction") {
    val root = tmpDir("compact6") + "/data"
    Seq("a", "B").foreach { n =>
      spark.sql(s"SELECT CAST('$n' AS STRING COLLATE UTF8_LCASE) AS name, 'x' AS region")
        .write.mode("append").partitionBy("region").parquet(root)
    }
    assert(spark.read.parquet(root).schema("name").dataType.sql == "STRING COLLATE UTF8_LCASE")
    val (before, after) = ParquetLake.compactPartitions(spark, root, Seq("region"))
    assert(before == 2 && after == 1, s"$before -> $after")
    assert(spark.read.parquet(root).schema("name").dataType.sql == "STRING COLLATE UTF8_LCASE")
  }
}
