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

  /** [[flatten]] with a quarantine lane: rows whose body does not parse
    * against the declared schema (or whose payload object is missing) are
    * FLAGGED, not silently null-flattened — `parse_error` is null on good
    * rows and a reason string on bad ones. At ingest scale a malformed
    * provider response is routine, and the two failure posture options —
    * fail the batch, or silently land null rows — are both wrong: the
    * first lets one bad record block a partition, the second corrupts
    * downstream aggregates invisibly (the same argument as the media
    * codec's quarantine lane, Multimodal.tryExtractFeatures). Route on
    * `parse_error.isNull`; land the quarantine under its own root for
    * replay once the upstream fix ships. Pure per-row column work. */
  def flattenWithQuarantine(spark: SparkSession, raw: Seq[(String, String)],
                            runDate: java.sql.Date): DataFrame = {
    import spark.implicits._
    raw.toDF("city", "body")
      .withColumn("parsed", from_json(col("body"), Schemas.apiResponse))
      // from_json is PERMISSIVE (malformed -> all-null struct, not a null
      // struct), so JSON validity needs its own probe: get_json_object
      // returns null iff the body is not parseable JSON at all
      .withColumn("parse_error",
        when(col("body").isNull || trim(col("body")) === "", "empty body")
          .when(get_json_object(col("body"), "$").isNull, "malformed json")
          .when(col("parsed.current").isNull, "missing payload object"))
      .select(col("parsed.current.*"), col("city"), col("body"), col("parse_error"))
      .withColumn("date", lit(runDate))
  }

  /** Land a batch: append-only, partitioned by (city, date). */
  def write(df: DataFrame, root: String): Unit =
    ParquetLake.appendPartitions(df, root, Schemas.partition.fieldNames.toSeq)

  def run(spark: SparkSession, raw: Seq[(String, String)], root: String,
          runDate: java.sql.Date): Unit =
    write(flatten(spark, raw, runDate), root)
}
