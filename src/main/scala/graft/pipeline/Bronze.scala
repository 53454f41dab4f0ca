package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetLake

/** Raw-landing (bronze) layer: API JSON → flattened rows → Hive-partitioned
  * Parquet under `city=<c>/date=<run date>/`.
  *
  * The reference flattens with pandas json_normalize and writes one file per
  * city/run-date (bronze.py:5-17). Spark-first equivalent: `from_json` with
  * the declared response schema, struct star-expansion of the `current`
  * object, and a partitioned append — schema is enforced at the boundary
  * instead of inferred per batch.
  */
object Bronze {

  /** Flatten raw (city, json) pairs into the bronze payload plus partition
    * columns. `runDate` is the ingestion date (reference uses "today",
    * bronze.py:10); injected for determinism. */
  def flatten(spark: SparkSession, raw: Seq[(String, String)], runDate: java.sql.Date): DataFrame = {
    import spark.implicits._
    raw.toDF("city", "body")
      .withColumn("parsed", from_json(col("body"), Schemas.apiResponse))
      .select(col("parsed.current.*"), col("city"))
      .withColumn("date", lit(runDate))
  }

  /** Writer options of the bronze table. Silver reads whole bronze
    * partitions with no predicate on a data column, so Parquet's per-column
    * min/max statistics never prune a bronze file; without them each of the
    * small files a landing adds is smaller. */
  private val writeOptions = Map("parquet.column.statistics.enabled" -> "false")

  /** Land a batch: append-only, partitioned by (city, date). */
  def write(df: DataFrame, root: String): Unit =
    ParquetLake.appendPartitions(df, root, Schemas.partition.fieldNames.toSeq, writeOptions)

  def run(spark: SparkSession, raw: Seq[(String, String)], root: String,
          runDate: java.sql.Date): Unit =
    write(flatten(spark, raw, runDate), root)
}
