package graft.pipeline

import org.apache.spark.sql.types._

/** Layer schemas for the weather lakehouse (medallion architecture).
  *
  * Derived from the reference's observed/declared schemas:
  * bronze = flattened API `current` object (reference bronze.py:15, field
  * list ingestion.py:14-19); silver casts (silver.py:28-35); gold aggregate
  * (gold.py:71-77); metadata ledger DDL (metadata.py:3-8).
  */
object Schemas {

  /** Payload columns of a bronze row (partition columns `city`,`date` are
    * Hive-derived from the directory layout, not stored in the files). */
  val bronzePayload: StructType = StructType(Seq(
    StructField("time", StringType),                // "2026-02-13T09:30"
    StructField("interval", LongType),
    StructField("temperature_2m", DoubleType),      // nullable; silver drops nulls
    StructField("wind_speed_10m", DoubleType),
    StructField("wind_direction_10m", LongType),
    StructField("weather_code", LongType)
  ))

  /** The Hive partition columns every layer is laid out by. */
  val partition: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("date", DateType)
  ))

  /** Bronze as read back with partition discovery. */
  val bronze: StructType = StructType(bronzePayload.fields ++ partition.fields)

  /** The Open-Meteo-shaped ingestion document: only the `current` object is
    * consumed (reference bronze.py:15). */
  val apiResponse: StructType = StructType(Seq(
    StructField("current", bronzePayload)
  ))

  val silver: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("date", DateType),
    StructField("timestamp", TimestampType),
    StructField("temperature", DoubleType),
    StructField("wind_speed", DoubleType),
    StructField("wind_direction", IntegerType),
    StructField("weather_code", IntegerType)
  ))

  val gold: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("date", DateType),
    StructField("avg_temp", DoubleType),
    StructField("max_temp", DoubleType),
    StructField("min_temp", DoubleType),
    StructField("record_count", LongType)
  ))

  /** Engine-managed ledger of processed partitions; logical primary key
    * (layer, city, date) with replace-on-conflict semantics. */
  val metadata: StructType = StructType(Seq(
    StructField("layer", StringType),
    StructField("city", StringType),
    StructField("date", DateType),
    StructField("processed_at", TimestampType)
  ))
}
