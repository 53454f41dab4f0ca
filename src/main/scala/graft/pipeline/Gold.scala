package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetLake

/** Aggregation (gold) layer: daily per-city weather statistics.
  *
  * Aggregate shape mirrors the reference (gold.py:71-81): AVG/MAX/MIN over
  * temperature plus COUNT(*), grouped by (city, date). Spark runs this as a
  * partial+final HashAggregate — map-side combine means the shuffle carries
  * one row per (city,date) per task, not the raw rows, which is exactly the
  * shape that scales.
  *
  * Differences from silver, preserved from the reference:
  *  - a missing silver directory yields an empty run instead of an error
  *    (gold.py:26-28 catches IOException);
  *  - a `fullRefresh` switch recomputes every available partition, ignoring
  *    the ledger diff (gold.py:104,113-118; the shipped default, main.py:36);
  *  - an extra aggregate-null guard: any NULL avg_temp aborts the run
  *    before the ledger is stamped (gold.py:53-59), a check of the
  *    [[Layers.step]].
  */
object Gold {

  val layerName = "gold"

  /** Pure aggregate transform, silver → gold schema. */
  def transform(silver: DataFrame): DataFrame =
    silver.groupBy("city", "date").agg(
      avg("temperature").as("avg_temp"),
      max("temperature").as("max_temp"),
      min("temperature").as("min_temp"),
      count(lit(1)).as("record_count")
    )

  /** Writer options of the gold table. Each gold file holds exactly one
    * row — the group is (city, date), and so is the partition directory —
    * so Parquet's per-column min/max statistics only repeat that row, and
    * partition pruning, not row-group statistics, skips files on read.
    * Without them a one-row file is about a quarter smaller. */
  private val writeOptions = Map("parquet.column.statistics.enabled" -> "false")

  /** Incremental (or `fullRefresh`) run of [[Layers.step]] over the silver
    * partitions; returns the number of partitions aggregated. */
  def run(spark: SparkSession, silverRoot: String, goldRoot: String,
          metadataPath: String, fullRefresh: Boolean = false): Long =
    if (!ParquetLake.exists(spark, silverRoot)) 0L // gold.py:26-28
    else Layers.step(spark, layerName, silverRoot, Schemas.silver, goldRoot, metadataPath,
      transform, checks = Seq("NULL avg_temp" -> col("avg_temp").isNull),
      writeOptions = writeOptions, fullRefresh = fullRefresh)
}
