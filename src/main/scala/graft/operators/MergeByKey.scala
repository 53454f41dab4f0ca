package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ParquetLake

/** Keyed merge (CDC-style upsert) into a partitioned parquet table, without
  * a table format: `updates` rows replace existing rows with the same key;
  * new keys append.
  *
  * Scale shape: only the Hive partitions that contain updated keys are
  * read+rewritten. They are found with the driver-side partition catalog
  * ([[ParquetLake.partitionDirs]], no listing job) and read with the updates'
  * schema declared ([[ParquetLake.readPartitions]]), so partition values are
  * cast from the directory names to the updates' types, never inferred: a
  * string partition `007` is merged back into `007`, not into a new `7`.
  * The table's columns must be the updates' columns; a merge that would
  * drop or add one throws before any live file moves. The rewrite is
  * published through [[ParquetLake.overwritePartitionsStaged]]
  * (crash-safe per-partition rename swap — NOT dynamic partition overwrite,
  * whose delete-then-publish commit can destroy a partition's prior rows
  * mid-crash); untouched partitions are never opened. The merge itself is
  * a PK-replace (union → row_number keeping the preferred row per key), run
  * as a Spark job because data tables, unlike the partition ledger
  * (MetadataLedger.upsert, merged on the driver), do not fit on the driver.
  *
  * Constraints, stated plainly: each key must live in exactly one partition
  * (keys moving between partitions need a delete leg — out of scope), and
  * writers must not race (plain parquet has no transaction log).
  */
object MergeByKey {

  /** Merge `updates` into the table at `root`.
    * @param keyCols       logical primary key
    * @param partitionCols Hive partition columns (must be derivable from
    *                      every updates row)
    * @param versionCol    ordering column — the row with the greatest value
    *                      per key wins; updates win ties. Pass "" when the
    *                      table carries no version column: updates then
    *                      ALWAYS replace existing rows with the same key
    *                      (last-writer-wins, the snapshot-upsert shape
    *                      [[IvfIndex.upsertIndex]] uses)
    * @return number of partitions rewritten */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCols: Seq[String], partitionCols: Seq[String],
            versionCol: String): Long = {
    require(!updates.columns.contains("_src") && !updates.columns.contains("_rn"),
      "updates must not contain reserved columns _src/_rn")
    // one materialization of the (possibly expensive) updates lineage; the
    // touched-set, union and write below all reuse it. Staged to DURABLE
    // parquet, not localCheckpoint: merge is read-modify-write, and a local
    // checkpoint lives in executor storage with lineage truncated — on a
    // real cluster one lost executor mid-merge would kill the job with no
    // way to recompute. A file-backed stage survives executor loss (tasks
    // re-read the file) and costs one extra write of just the updates.
    // UUID, not nanoTime: concurrent drivers merging the same root must not
    // collide on a staging path (nanoTime is per-JVM and coarse on some
    // platforms). The write runs INSIDE the try so a failed staging write
    // cleans up its own partial directory instead of leaking it.
    val updStaging = new org.apache.hadoop.fs.Path(
      root + ".updates-" + java.util.UUID.randomUUID().toString)
    val hfs = updStaging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      updates.write.parquet(updStaging.toString)
      // explicit schema: an all-empty updates write may produce zero part
      // files, which schema inference would reject
      val u = spark.read.schema(updates.schema).parquet(updStaging.toString)
      val touched = u.select(partitionCols.map(col): _*).distinct().collect().toSet
      if (touched.isEmpty) return 0L
      // an unpartitioned table is the catalog's depth-0 case: its root is its one leaf
      val dirs =
        if (!ParquetLake.exists(spark, root)) Nil
        else ParquetLake.partitionDirs(spark, root, StructType(partitionCols.map(u.schema(_))))
      // the declared-schema read would silently drop a table column the
      // updates lack, and null-fill one the table lacks: refuse both
      dirs.headOption.foreach { d =>
        val tableCols = ParquetLake.fileSchema(spark, d.files.head).fieldNames.toSet
        val updateCols = u.columns.toSet -- partitionCols
        require(tableCols == updateCols,
          s"updates columns $updateCols differ from table $root columns $tableCols")
      }
      val existing = ParquetLake.readPartitions(spark, root, u.schema,
        dirs.filter(d => touched.contains(d.values)).map(_.path))
      val ord =
        if (versionCol.isEmpty) Seq(col("_src").desc)
        else Seq(col(versionCol).desc, col("_src").desc)
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
      val merged = existing.withColumn("_src", lit(0))
        .unionByName(u.withColumn("_src", lit(1)))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_src")
      // staged swap, not dynamic overwrite: a crash inside
      // dynamic-overwrite's delete-then-publish commit would destroy the
      // partition's prior rows — a replayed merge would then read the
      // half-destroyed state and persist the loss. The staged write also
      // fully materializes `merged` (from the intact table + the staged
      // updates file) BEFORE any live file moves, so no separate
      // checkpoint of the merge result is needed.
      ParquetLake.overwritePartitionsStaged(spark, merged, root, partitionCols)
      touched.size.toLong
    } finally {
      hfs.delete(updStaging, true)
    }
  }
}
