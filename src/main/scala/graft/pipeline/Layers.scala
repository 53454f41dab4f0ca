package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.MetadataLedger
import graft.sources.ParquetLake

/** Shared machinery for incremental layer processing (the reference's
  * enumerate → diff → process loop, silver.py:65-74 / gold.py:104-125).
  *
  * Enumeration and diff run on the driver: the source layer's
  * `city=<c>/date=<d>` leaf directories come from [[ParquetLake.partitionDirs]]
  * (plain directory listings, no Spark job), and the ledger's processed
  * (city, date) keys are collected and subtracted as a set — the
  * reference's own driver-side set difference (silver.py:69, gold.py:118).
  * Both sides are partition-granular, so they stay small however many rows
  * the lake holds. Only the pending leaf directories are then read.
  *
  * Deliberate departure from the reference, noted in BASELINE.md: instead of
  * one engine invocation per pending partition (pathological in Spark — a
  * full job per (city,date)), all pending partitions are processed in ONE
  * batched job. Semantics are identical (same rows, same per-partition
  * files via partitionBy) and it is the shape that survives 1000× more
  * partitions.
  */
object Layers {

  /** The leaf directories of the layer table at `root` whose (city, date)
    * the ledger has not recorded for `layer` — every one of them on a
    * `fullRefresh`. Keys are compared null-safely, so a
    * `__HIVE_DEFAULT_PARTITION__` directory is pending until its null key is
    * recorded. A missing `root` throws `FileNotFoundException`. */
  def pendingDirs(spark: SparkSession, root: String, metadataPath: String, layer: String,
                  fullRefresh: Boolean = false): Seq[ParquetLake.PartitionDir] = {
    val dirs = ParquetLake.partitionDirs(spark, root, Schemas.partition)
    if (fullRefresh || dirs.isEmpty) dirs
    else {
      val done = MetadataLedger.processed(spark, metadataPath, layer)
      dirs.filterNot(d => done.contains(d.values))
    }
  }

  private def failMissing(missing: Seq[Row]): Unit =
    if (missing.nonEmpty) {
      val desc = missing.map(r => s"${r.get(0)}/${r.get(1)}").mkString(", ")
      throw new IllegalStateException(s"empty partitions after transform: $desc")
    }

  /** Empty-partition guard (reference silver.py:42-47 / gold.py:46-51
    * ValueError on COUNT(*)==0): every pending (city, date) key must have
    * produced at least one row. Runs as one aggregate job over the batch,
    * so callers cache the batch first. */
  def requireAllNonEmpty(processedRows: DataFrame, pending: Seq[Row]): Unit = {
    val produced = processedRows.select("city", "date").distinct().collect().toSet
    failMissing(pending.filterNot(produced.contains))
  }

  /** ZERO-EXTRA-SCAN variant of [[requireAllNonEmpty]] for the 100 TB
    * regime: the post-hoc aggregate above re-scans the processed batch
    * (fine while it fits the cache; a terabyte batch spills and the
    * validation re-scan becomes real IO). This attaches a Spark
    * `Observation`, so the TERMINAL ACTION ITSELF — the partition
    * write — collects the per-partition presence as it streams rows
    * through its tasks; `collect_set` over the two partition columns is
    * bounded by the pending-partition count, the size of `pending` itself.
    *
    * Contract: run the returned `validate` thunk AFTER the terminal
    * action on the INSTRUMENTED frame (it blocks on the observation and
    * throws [[requireAllNonEmpty]]'s loud error). The trade, stated:
    * validation happens after the write where the reference validates
    * before — pair with DYNAMIC partition overwrite, where rerunning a
    * failed batch overwrites the same partitions, so the late failure
    * costs a rerun, never correctness. */
  def requireAllNonEmptyObserved(processedRows: DataFrame,
                                 pending: Seq[Row]): (DataFrame, () => Unit) = {
    val obs = org.apache.spark.sql.Observation()
    val instrumented = processedRows.observe(obs,
      collect_set(struct(col("city"), col("date"))).as("parts"))
    val validate = () => {
      val parts = obs.get("parts").asInstanceOf[scala.collection.Seq[Row]].toSet
      failMissing(pending.filterNot(parts.contains))
    }
    (instrumented, validate)
  }
}
