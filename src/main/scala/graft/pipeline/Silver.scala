package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Cleaning (silver) layer: cast/parse/filter bronze rows, run through the
  * incremental [[Layers.step]] (partitioned write, empty-partition guard,
  * ledger stamp).
  *
  * Column logic mirrors the reference CTAS (silver.py:28-39): rename
  * `*_2m/_10m` metrics, parse `time` with the Java format equivalent of
  * STRPTIME '%Y-%m-%dT%H:%M', cast wind_direction/weather_code to int, and
  * drop rows with null temperature. The reference treats a missing bronze
  * directory as fatal for silver (silver.py:8-12) — preserved here.
  */
object Silver {

  val layerName = "silver"

  /** Pure column transform, bronze → silver schema (testable without IO). */
  def transform(bronze: DataFrame): DataFrame =
    bronze
      .filter(col("temperature_2m").isNotNull)
      .select(
        col("city"),
        col("date"),
        to_timestamp(col("time"), "yyyy-MM-dd'T'HH:mm").as("timestamp"),
        col("temperature_2m").cast(DoubleType).as("temperature"),
        col("wind_speed_10m").cast(DoubleType).as("wind_speed"),
        col("wind_direction_10m").cast(IntegerType).as("wind_direction"),
        col("weather_code").cast(IntegerType).as("weather_code")
      )

  /** Incremental run: process the bronze partitions the ledger has not
    * recorded for silver ([[Layers.step]]). Returns the number of partitions
    * processed. */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
          metadataPath: String): Long =
    // a missing bronze root fails the listing: fatal, like the reference
    Layers.step(spark, layerName, bronzeRoot, Schemas.bronze, silverRoot, metadataPath,
      transform, writeOptions = Map.empty, fullRefresh = false)
}
