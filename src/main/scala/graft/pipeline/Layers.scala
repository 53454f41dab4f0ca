package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.meta.MetadataLedger
import graft.sources.ParquetLake

/** The incremental layer step both silver and gold run (the reference's
  * enumerate → diff → process → validate → stamp loop, silver.py:65-74 /
  * gold.py:104-125).
  *
  * Enumeration and diff run on the driver: the source layer's
  * `city=<c>/date=<d>` leaf directories come from [[ParquetLake.catalog]]
  * (plain directory listings of the name levels, no Spark job), and the
  * ledger's processed (city, date) keys are read on the driver and
  * subtracted as a set — the reference's own driver-side set difference
  * (silver.py:69, gold.py:118). Both sides are partition-granular, so they
  * stay small however many rows the lake holds. Only the pending leaf
  * directories are then listed and read, so a cycle's listing does not grow
  * with the lake's history.
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
    * recorded. Only the pending leaves are listed ([[ParquetLake.catalog]]
    * lists the name levels), and one that holds no data file is dropped: it
    * does not exist. A missing `root` throws `FileNotFoundException`. */
  def pendingDirs(spark: SparkSession, root: String, metadataPath: String, layer: String,
                  fullRefresh: Boolean = false): Seq[ParquetLake.PartitionDir] = {
    val dirs = ParquetLake.catalog(spark, root, Some(Schemas.partition))
    val pending =
      if (fullRefresh || dirs.isEmpty) dirs
      else {
        val done = MetadataLedger.processed(spark, metadataPath, layer)
        dirs.filterNot(d => done.contains(d.values))
      }
    pending.filter(_.files.nonEmpty)
  }

  /** One incremental run of `layer`: read the source partitions of `srcRoot`
    * pending for it ([[pendingDirs]]), `transform` them as one batch, write
    * the result into `dstRoot` with [[ParquetLake.overwritePartitions]] (with
    * the writer `writeOptions`), and stamp in the ledger the pending keys
    * whose partitions the publish swapped in. Returns the number of
    * partitions processed and stamped.
    *
    * Validation belongs in `transform`, as a column that fails the write's
    * own task (gold's NULL guard, gold.py:53-59): a failed write publishes
    * nothing and stamps nothing, the reference's validate-before-write
    * order. A pending partition the transform left empty (reference
    * silver.py:42-47 / gold.py:46-51) is named in an
    * [[EmptyPartitionsException]] (`empty partitions after transform: …`)
    * once the others are stamped, and stays pending: like the reference's
    * per-partition loop (silver.py:73-74), one bad partition does not hold
    * back the others. */
  def step(spark: SparkSession, layer: String, srcRoot: String, srcSchema: StructType,
           dstRoot: String, metadataPath: String, transform: DataFrame => DataFrame,
           writeOptions: Map[String, String], fullRefresh: Boolean): Long = {
    val pending = pendingDirs(spark, srcRoot, metadataPath, layer, fullRefresh)
    if (pending.isEmpty) return 0L
    val batch = transform(ParquetLake.readPartitions(spark, srcRoot, srcSchema, pending))
    val written = ParquetLake.overwritePartitions(batch, dstRoot, Schemas.partition.fieldNames.toSeq,
      writeOptions).toSet
    val (done, missing) = pending.map(_.values).partition(written.contains)
    MetadataLedger.upsert(spark, metadataPath, layer, done)
    if (missing.nonEmpty) {
      val desc = missing.map(r => s"${r.get(0)}/${r.get(1)}").mkString(", ")
      throw new EmptyPartitionsException(s"empty partitions after transform: $desc")
    }
    done.size.toLong
  }
}
