package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.apache.spark.storage.StorageLevel

import graft.meta.MetadataLedger
import graft.sources.ParquetLake

/** Cleaning (silver) layer: cast/parse/filter bronze rows, write
  * partitioned, record progress in the ledger.
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

  /** Incremental run: process bronze partitions not yet in the ledger.
    * Returns the number of partitions processed.
    *
    * The pending (city, date) directories come from the driver-side catalog
    * ([[Layers.pendingDirs]]); only those are read, with the declared bronze
    * schema.
    *
    * `observedValidation` (default ON — the 100 TB path) validates the
    * empty-partition guard via [[Layers.requireAllNonEmptyObserved]]: the
    * partition WRITE itself collects per-partition presence, zero extra
    * scans, so the batch is not cached. Validation then lands after the
    * write; dynamic partition overwrite makes the rerun-on-failure overwrite
    * the same partitions, so the late failure costs a rerun, never
    * correctness (and the ledger is only stamped after validation passes).
    * Set it false for the reference's validate-before-write order at the
    * price of caching and re-scanning the batch. */
  def run(spark: SparkSession, bronzeRoot: String, silverRoot: String,
          metadataPath: String, observedValidation: Boolean = true): Long = {
    // a missing bronze root fails the listing: fatal, like the reference
    val pending = Layers.pendingDirs(spark, bronzeRoot, metadataPath, layerName)
    if (pending.isEmpty) return 0L
    val keys = pending.map(_.values)
    val batch = transform(
      ParquetLake.readPartitions(spark, bronzeRoot, Schemas.bronze, pending.map(_.path)))
    if (observedValidation) {
      val (instrumented, validate) = Layers.requireAllNonEmptyObserved(batch, keys)
      ParquetLake.overwritePartitions(instrumented, silverRoot, Seq("city", "date"))
      validate() // throws before the ledger is stamped
    } else {
      val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        Layers.requireAllNonEmpty(cached, keys)
        ParquetLake.overwritePartitions(cached, silverRoot, Seq("city", "date"))
      } finally cached.unpersist()
    }
    MetadataLedger.upsert(spark, metadataPath, MetadataLedger.entries(spark, layerName, keys))
    pending.size.toLong
  }
}
