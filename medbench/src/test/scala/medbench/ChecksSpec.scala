package medbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.pipeline.Pipeline

class ChecksSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def work(): File = Files.createTempDirectory("medbench").toFile

  /** A small analyst lake built through the pipeline, its config and answers. */
  private def lake(gen: Gen) = {
    val w = new AnalystReads(spark, gen, work(), days = 3, perDay = 8)
    w.build()
    val cities = Seq("Delhi", "London", "NewYork", "Tokyo")
    val expected = (for (c <- cities; d <- 0 until 3)
      yield (c, gen.date(d)) -> gen.goldOf(c, d, 8, Workload.NullRate)).toMap
    (w, w.lake, expected)
  }

  /** Rewrites one gold partition with `f` applied to its rows. */
  private def corrupt(conf: Pipeline.Config, city: String, date: java.time.LocalDate)
                     (f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val part = spark.read.parquet(conf.goldRoot)
      .filter(col("city") === city && col("date") === java.sql.Date.valueOf(date)).localCheckpoint()
    f(part).write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("city", "date").parquet(conf.goldRoot)
  }

  test("the gold and ledger checks accept what the pipeline wrote") {
    val (_, conf, expected) = lake(Gen(21))
    assert(Checks.badGold(spark, conf.goldRoot, expected).isEmpty)
    val dates = expected.keySet.groupBy(_._2).map { case (d, ks) => d -> ks.map(_._1) }
    assert(Checks.badLedger(spark, conf.metadataPath, dates).isEmpty)
  }

  test("the gold check rejects a corrupted gold partition, and only that one") {
    val gen = Gen(22)
    val (_, conf, expected) = lake(gen)
    val key = ("London", gen.date(1))
    corrupt(conf, key._1, key._2)(_.withColumn("avg_temp", col("avg_temp") + 0.25))
    assert(Checks.badGold(spark, conf.goldRoot, expected) == Set(key))
  }

  test("the gold check rejects a duplicated and a missing gold row") {
    val gen = Gen(23)
    val (_, conf, expected) = lake(gen)
    corrupt(conf, "Tokyo", gen.date(0))(df => df.union(df))
    Workload.remove(new File(s"${conf.goldRoot}/city=Delhi/date=${gen.date(2)}"))
    assert(Checks.badGold(spark, conf.goldRoot, expected) == Set(("Tokyo", gen.date(0)), ("Delhi", gen.date(2))))
  }

  test("the ledger check rejects a date whose rows are missing") {
    val gen = Gen(24)
    val (_, conf, expected) = lake(gen)
    val dates = expected.keySet.groupBy(_._2).map { case (d, ks) => d -> ks.map(_._1) }
    val extra = dates + (gen.date(9) -> Set("Delhi"))
    assert(Checks.badLedger(spark, conf.metadataPath, extra) == Set(gen.date(9)))
  }

  test("an analyst query over a corrupted gold partition fails its output check") {
    val gen = Gen(25)
    val (w, conf, _) = lake(gen)
    val q = Gen.GoldPoint("NewYork", 2)
    val i = (0 until 4096).find(i => w.query(i) == q).get
    assert(w.verify(i, w.op(i, Tracer.off)))
    corrupt(conf, "NewYork", gen.date(2))(_.withColumn("max_temp", col("max_temp") - 1))
    assert(!w.verify(i, w.op(i, Tracer.off)))
  }
}
