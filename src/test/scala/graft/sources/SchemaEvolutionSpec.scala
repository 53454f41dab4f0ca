package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.pipeline.{Layers, Schemas, Silver}
import graft.pipeline.WeatherFixtures._

/** Schema evolution at the landing layer: bronze batches gain a column
  * over time; downstream reads must tolerate both vintages. */
class SchemaEvolutionSpec extends SparkFunSuite {
  import spark.implicits._

  test("declared-schema read fills missing columns with null across file vintages") {
    val dir = tmpDir("evo")
    val root = dir + "/data"
    // vintage 1: the standard bronze payload
    writeBronze(spark, Seq(bronzeRow("Delhi", "2026-02-13")), root)
    // vintage 2: a later batch with an extra sensor column
    bronzeDf(spark, Seq(bronzeRow("London", "2026-02-13")))
      .withColumn("humidity", lit(55.0))
      .write.partitionBy("city", "date").mode("append").parquet(root)
    // silver's read: the pending leaves with the declared v1 schema; the
    // extra column is ignored and both vintages load
    val v1 = ParquetLake.readPartitions(spark, root, Schemas.bronze,
      Layers.pendingDirs(spark, root, dir + "/meta", Silver.layerName))
    assert(v1.count() == 2)
    // silver transform runs over the mixed layout unchanged
    assert(Silver.transform(v1).count() == 2)
    // reading with mergeSchema surfaces the union schema, old files null-filled
    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.columns.contains("humidity"))
    val h = merged.orderBy("city").select("humidity").collect()
    assert(h(0).isNullAt(0) && h(1).getDouble(0) == 55.0)
  }
}
