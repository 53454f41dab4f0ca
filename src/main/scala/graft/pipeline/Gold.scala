package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.meta.MetadataLedger
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
  *    (gold.py:53-59).
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

  /** Aggregate-sanity guard (reference gold.py:53-59). */
  def requireNoNullAggregates(gold: DataFrame): Unit = {
    val bad = gold.filter(col("avg_temp").isNull).count()
    if (bad > 0)
      throw new IllegalStateException(s"$bad gold partitions produced NULL avg_temp")
  }

  /** Zero-extra-scan twin of [[requireNoNullAggregates]]: the terminal
    * action counts NULL avg_temp rows as they stream through the write
    * (same contract as [[Layers.requireAllNonEmptyObserved]] — run the
    * thunk after the action on the instrumented frame). */
  def requireNoNullAggregatesObserved(gold: DataFrame): (DataFrame, () => Unit) = {
    val obs = org.apache.spark.sql.Observation()
    val instrumented = gold.observe(obs,
      count(when(col("avg_temp").isNull, 1)).as("null_avg"))
    val validate = () => {
      val bad = obs.get("null_avg").asInstanceOf[Long]
      if (bad > 0)
        throw new IllegalStateException(s"$bad gold partitions produced NULL avg_temp")
    }
    (instrumented, validate)
  }

  /** Writer options of the gold table. Each gold file holds exactly one
    * row — the group is (city, date), and so is the partition directory —
    * so Parquet's per-column min/max statistics only repeat that row, and
    * partition pruning, not row-group statistics, skips files on read.
    * Without them a one-row file is about a quarter smaller. */
  private val writeOptions = Map("parquet.column.statistics.enabled" -> "false")

  /** Incremental (or `fullRefresh`) run over the silver partitions the
    * driver-side catalog finds ([[Layers.pendingDirs]]); returns the number
    * of partitions aggregated. Validation modes as in [[Silver.run]]. */
  def run(spark: SparkSession, silverRoot: String, goldRoot: String,
          metadataPath: String, fullRefresh: Boolean = false,
          observedValidation: Boolean = true): Long = {
    if (!ParquetLake.exists(spark, silverRoot)) return 0L // gold.py:26-28
    val pending = Layers.pendingDirs(spark, silverRoot, metadataPath, layerName, fullRefresh)
    if (pending.isEmpty) return 0L
    val keys = pending.map(_.values)
    val batch = transform(
      ParquetLake.readPartitions(spark, silverRoot, Schemas.silver, pending.map(_.path)))
    if (observedValidation) {
      // Both guards ride the write itself — zero validation re-scans.
      val (inst1, validateParts) = Layers.requireAllNonEmptyObserved(batch, keys)
      val (inst2, validateNulls) = requireNoNullAggregatesObserved(inst1)
      ParquetLake.overwritePartitions(inst2, goldRoot, Seq("city", "date"), writeOptions)
      validateParts(); validateNulls() // throw before the ledger is stamped
    } else {
      val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        Layers.requireAllNonEmpty(cached, keys)
        requireNoNullAggregates(cached)
        ParquetLake.overwritePartitions(cached, goldRoot, Seq("city", "date"), writeOptions)
      } finally cached.unpersist()
    }
    MetadataLedger.upsert(spark, metadataPath, MetadataLedger.entries(spark, layerName, keys))
    pending.size.toLong
  }
}
