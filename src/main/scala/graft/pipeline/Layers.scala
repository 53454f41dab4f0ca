package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta.MetadataLedger
import graft.sources.ParquetLake

/** The incremental layer step both silver and gold run (the reference's
  * enumerate → diff → process → validate → stamp loop, silver.py:65-74 /
  * gold.py:104-125).
  *
  * Enumeration and diff run on the driver: the source layer's
  * `city=<c>/date=<d>` leaf directories come from [[ParquetLake.partitionDirs]]
  * (plain directory listings, no Spark job), and the ledger's processed
  * (city, date) keys are read on the driver and subtracted as a set — the
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

  /** A pending partition the transform left empty (see [[step]]). The
    * partitions that produced rows are already stamped when it is thrown. */
  final class EmptyPartitionsException(message: String) extends IllegalStateException(message)

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

  /** One incremental run of `layer`: read the source partitions of `srcRoot`
    * pending for it ([[pendingDirs]]), `transform` them as one batch, write
    * the result into `dstRoot` by dynamic partition overwrite (with the
    * writer `writeOptions`), validate, and stamp the pending keys in the
    * ledger. Returns the number of partitions processed and stamped.
    *
    * Validation rides the write: one Spark `Observation` on the batch
    * collects the written (city, date) keys and, per `checks` entry
    * `(what, bad)`, the number of rows matching `bad`, as the write's own
    * tasks stream the rows — no cache, no re-scan. A check with a non-zero
    * count (`<n> <layer> partitions produced <what>`, gold.py:53-59) throws
    * before anything is stamped. Otherwise the pending partitions that
    * produced rows are stamped, and a pending partition the transform left
    * empty (reference silver.py:42-47 / gold.py:46-51) is then named in an
    * [[EmptyPartitionsException]] (`empty partitions after transform: …`)
    * and stays pending: like the reference's per-partition loop
    * (silver.py:73-74), one bad partition does not hold back the others.
    * The trade against the reference's validate-before-write order: a
    * failed batch has already overwritten its partitions, but what failed is
    * unstamped, so the rerun after the fix overwrites the same partitions
    * again — the failure costs a rerun, never correctness. */
  def step(spark: SparkSession, layer: String, srcRoot: String, srcSchema: StructType,
           dstRoot: String, metadataPath: String, transform: DataFrame => DataFrame,
           checks: Seq[(String, Column)], writeOptions: Map[String, String],
           fullRefresh: Boolean): Long = {
    val pending = pendingDirs(spark, srcRoot, metadataPath, layer, fullRefresh)
    if (pending.isEmpty) return 0L
    val keys = pending.map(_.values)
    val partitionCols = Schemas.partition.fieldNames.toSeq
    val obs = Observation()
    val batch = transform(ParquetLake.readPartitions(spark, srcRoot, srcSchema, pending.map(_.path)))
      .observe(obs, collect_set(struct(partitionCols.map(col): _*)).as("parts"),
        checks.map { case (what, bad) => count(when(bad, 1)).as(what) }: _*)
    ParquetLake.overwritePartitions(batch, dstRoot, partitionCols, writeOptions)
    val observed = obs.get
    for ((what, _) <- checks; n = observed(what).asInstanceOf[Long] if n > 0)
      throw new IllegalStateException(s"$n $layer partitions produced $what")
    val parts = observed("parts").asInstanceOf[scala.collection.Seq[Row]].toSet
    val (done, missing) = keys.partition(parts.contains)
    MetadataLedger.upsert(spark, metadataPath, layer, done)
    if (missing.nonEmpty) {
      val desc = missing.map(r => s"${r.get(0)}/${r.get(1)}").mkString(", ")
      throw new EmptyPartitionsException(s"empty partitions after transform: $desc")
    }
    done.size.toLong
  }
}
