package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Partitioned-Parquet lake primitives.
  *
  * Mirrors the reference's storage surface (Hive-partitioned Parquet read
  * via glob with `hive_partitioning=true`, per-partition `COPY ... OVERWRITE
  * TRUE` writes — reference silver.py:36,50-54, gold.py:78,86-90) with the
  * Spark-native equivalents: automatic partition discovery on read and
  * *dynamic* partition overwrite on write. Dynamic mode is load-bearing:
  * Spark's default overwrite truncates the whole root directory, which would
  * silently delete sibling partitions on an incremental rerun.
  */
object ParquetLake {

  private[graft] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Read a partitioned table root, a plain table directory (not a glob),
    * with no Spark job before its first action. The data schema is the
    * footer schema of the first visible data file under `root`, found with
    * driver-side `listStatus` calls (the [[hidden]] rule; empty leaves are
    * skipped) and read with [[fileSchema]]: the one footer Spark's own
    * inference would read, through a job, since it too assumes every part
    * file has the same schema. `spark.sql.parquet.mergeSchema` is not
    * consulted. Partition columns (`city=`/`date=` dirs) are not in that
    * schema, so Spark still discovers and type-infers them from the
    * directory names. A root with no data file, or a missing one, is left to
    * `spark.read.parquet`, which fails with its own error. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val hfs = fs(spark, root)
    def firstFile(dir: Path): Option[FileStatus] = {
      val (files, dirs) = hfs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath)).partition(_.isFile)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath)).nextOption())
    }
    val first = try firstFile(new Path(root)) catch { case _: FileNotFoundException => None }
    first.fold(spark.read.parquet(root))(f => spark.read.schema(fileSchema(spark, f)).parquet(root))
  }

  /** Entries the catalog and [[read]] skip: in-flight `_temporary` output,
    * `_SUCCESS` markers, checksums, any other `.`-prefixed name and any
    * other `_`-prefixed name without an `=`. Spark's file index skips the
    * same, so a `_p=a` partition directory is kept; it also keeps Parquet
    * summary files, which are not data. */
  private def hidden(p: Path) = {
    val name = p.getName
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
  }

  /** One leaf directory of a Hive-partitioned table: its partition values in
    * partition-schema order, typed as `collect` returns them (null for
    * `__HIVE_DEFAULT_PARTITION__`), its path and its data files. */
  final case class PartitionDir(values: Row, path: String, files: Seq[FileStatus])

  /** Driver-side partition catalog: the `col=value` leaf directories under
    * `root`, one directory level per field of `partitionSchema`, found with
    * plain `listStatus` calls. A Spark read of the root lists the same tree
    * with a distributed job per directory holding more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) children;
    * this runs no job at all.
    *
    * Skips [[hidden]] entries and leaves that hold no data file, as Spark's
    * file index does. Names are unescaped and each value is cast to its
    * `partitionSchema` type, never inferred, so `values` equal the partition
    * columns Spark reads back with that schema declared: under a string
    * column `region=007` is "007", not 7. An empty `partitionSchema` lists an
    * unpartitioned table, whose root is its one leaf. A layout of another
    * depth (a data file above the leaf level, a subdirectory in a leaf) or a
    * directory not named `<field>=<value>` throws `IllegalArgumentException`;
    * a missing root throws `FileNotFoundException`. */
  def partitionDirs(spark: SparkSession, root: String,
                    partitionSchema: StructType): Seq[PartitionDir] = {
    val hfs = fs(spark, root)
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def value(level: Int, raw: String): Any =
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else {
        val dt = partitionSchema(level).dataType
        CatalystTypeConverters.convertToScala(Cast(Literal(raw), dt, tz).eval(), dt)
      }
    def walk(dir: Path, level: Int, values: List[Any]): Seq[PartitionDir] = {
      val children = hfs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath))
      val (files, subdirs) = children.partition(_.isFile)
      def depth = partitionSchema.fieldNames.mkString("(", ", ", ")")
      if (level == partitionSchema.length) {
        require(subdirs.isEmpty, s"table $root is partitioned deeper than $depth: $dir has subdirectories")
        if (files.isEmpty) Nil else Seq(PartitionDir(Row.fromSeq(values.reverse), dir.toString, files))
      } else {
        require(files.isEmpty, s"table $root is partitioned shallower than $depth: $dir holds data files")
        subdirs.flatMap { s =>
          val name = s.getPath.getName
          val eq = name.indexOf('=')
          val field = partitionSchema(level).name
          require(eq > 0 && ExternalCatalogUtils.unescapePathName(name.take(eq)) == field,
            s"unexpected directory ${s.getPath} in table $root: expected $field=<value>")
          walk(s.getPath, level + 1,
            value(level, ExternalCatalogUtils.unescapePathName(name.drop(eq + 1))) :: values)
        }
      }
    }
    walk(hfs.makeQualified(new Path(root)), 0, Nil)
  }

  /** Read only the given leaf directories of a partitioned table (paths from
    * [[partitionDirs]]), with a declared schema: no footer is read for
    * schema inference, `basePath` keeps the partition columns, and their
    * values are cast from the directory names to the declared types. No
    * directories read as an empty table. */
  def readPartitions(spark: SparkSession, root: String, schema: StructType,
                     dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", root).parquet(dirs: _*)

  /** The Spark schema of one Parquet file, from its footer, read on the
    * driver: Spark's own schema inference runs a job for it. The Spark schema
    * a Spark writer stores in the footer wins over the converted Parquet
    * schema, as in Spark's inference, so types only it records survive. */
  private[graft] def fileSchema(spark: SparkSession, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** Read `root` with a declared schema, or an empty DataFrame of that
    * schema when `root` does not exist yet: a table that only some runs
    * have written, such as the streaming dedup ledger before its first
    * batch. Gold's tolerance of a missing silver root (gold.py:26-28)
    * tests [[exists]] instead. */
  def readOrEmpty(spark: SparkSession, root: String, schema: StructType): DataFrame =
    if (exists(spark, root)) spark.read.schema(schema).parquet(root)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Overwrite only the partitions present in `df`, leaving siblings
    * untouched (DuckDB `OVERWRITE TRUE` per-partition COPY semantics).
    * `options` go to the writer (and through it to the Parquet writer's
    * Hadoop configuration). */
  def overwritePartitions(df: DataFrame, root: String, partitionCols: Seq[String],
                          options: Map[String, String] = Map.empty): Unit =
    df.write
      .options(options)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(root)

  /** Crash-safe partition overwrite: stage the whole write to a sibling
    * directory, then swap each written partition into the live table via
    * rename-aside → rename-in → delete (the [[compactPartitions]] publish
    * protocol). Dynamic-overwrite's job commit deletes a partition's old
    * files before publishing the new ones, so a crash mid-commit loses the
    * partition's prior rows — fatal for read-modify-write callers like
    * [[graft.operators.MergeByKey]], whose replay would then read the
    * half-destroyed state. Here every partition is either fully old or
    * fully new after a crash (worst case: moved aside under the staging
    * dir, recoverable by hand). Costs two renames per touched partition
    * over the plain dynamic overwrite. */
  def overwritePartitionsStaged(spark: SparkSession, df: DataFrame, root: String,
                                partitionCols: Seq[String]): Unit =
    if (partitionCols.isEmpty) {
      // no partitions → "overwrite the touched partitions" degenerates to a
      // whole-table replace; atomicReplace is the crash-safe form of that
      // (publishStaged's per-partition swap needs ≥1 partition level)
      atomicReplace(spark, df, root)
    } else {
      val hfs = fs(spark, root)
      val staging = new Path(root + ".staging-" + System.nanoTime())
      df.write.partitionBy(partitionCols: _*).parquet(staging.toString)
      publishStaged(hfs, staging, root, partitionCols.length)
    }

  /** Swap every depth-level partition dir under `staging` into `root` with
    * rename-aside → rename-in → delete old, then drop the staging dir (and
    * the asides with it). A crash between steps leaves the partition
    * recoverable, unlike delete-then-rename. The aside dir lives OUTSIDE
    * the table root: an aside left inside the root would be discovered as
    * a bogus Hive partition and double every read of that partition. */
  private def publishStaged(hfs: org.apache.hadoop.fs.FileSystem, staging: Path,
                            root: String, depth: Int): Unit = {
    def leafDirs(p: Path, d: Int): Seq[Path] =
      if (d == 0) Seq(p)
      else hfs.listStatus(p).filter(_.isDirectory)
        .flatMap(s => leafDirs(s.getPath, d - 1)).toSeq
    val stagingRoot = hfs.getFileStatus(staging).getPath
    val asideRoot = new Path(staging, ".aside")
    leafDirs(stagingRoot, depth).foreach { newDir =>
      val rel = newDir.toString.stripPrefix(stagingRoot.toString).stripPrefix("/")
      val target = new Path(root, rel)
      val aside = new Path(asideRoot, rel)
      val hadOld = hfs.exists(target)
      if (hadOld) {
        hfs.mkdirs(aside.getParent)
        if (!hfs.rename(target, aside))
          throw new IllegalStateException(s"cannot move aside partition $rel")
      }
      hfs.mkdirs(target.getParent)
      if (!hfs.rename(newDir, target)) {
        if (hadOld) hfs.rename(aside, target) // roll back
        throw new IllegalStateException(s"cannot publish partition $rel")
      }
    }
    hfs.delete(staging, true) // removes the .aside copies too
  }

  /** Append new files into the partition layout (bronze raw-landing
    * semantics, reference bronze.py:12-17). `options` go to the writer, as
    * in [[overwritePartitions]]. No `_SUCCESS` marker is written: in a root
    * that every append commits into, a marker says nothing about any one
    * append, and each append would rewrite it. [[hidden]] skips a marker
    * an older write left. */
  def appendPartitions(df: DataFrame, root: String, partitionCols: Seq[String],
                       options: Map[String, String] = Map.empty): Unit =
    df.write
      .options(options)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(partitionCols: _*)
      .mode("append")
      .parquet(root)

  /** Compact a partitioned table's small files toward `targetBytes`-sized
    * files. Returns (filesBefore, filesAfter).
    *
    * The reference's bronze layout lands ONE ROW per file per run
    * (bronze.py:15-17) — at scale that's the classic small-file pathology
    * (every scan pays per-file open/footer cost; listings dominate).
    *
    * Shape, chosen for correctness at scale:
    *  - the table is listed with [[partitionDirs]] and read with
    *    [[readPartitions]], partition columns declared as strings: every row
    *    is written back under the directory name it came from (an inferred
    *    type would move `region=007` rows into a new `region=7`);
    *  - per-Hive-partition output file counts are derived from row counts ×
    *    the table's measured bytes/row (a bare repartition on the partition
    *    columns would force exactly one file — and one task — per
    *    partition, however large);
    *  - rows are salted `pmod(hash(data cols), nFiles)` so each partition
    *    splits into its own right-sized file set;
    *  - output is staged to a sibling directory and swapped in per
    *    partition: never overwriting the path being lazily read (Spark
    *    forbids it, and bypassing that check would drop data), and a crash
    *    mid-swap leaves every partition either old or fully new. */
  def compactPartitions(spark: SparkSession, root: String,
                        partitionCols: Seq[String],
                        targetBytes: Long = 128L * 1024 * 1024): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val partSchema = StructType(partitionCols.map(StructField(_, StringType)))
    def listing() = partitionDirs(spark, root, partSchema)
    def fileCount() = listing().map(_.files.size.toLong).sum
    val dirs = listing()
    val files = dirs.flatMap(_.files)
    val before = files.size.toLong
    if (before == 0) return (0L, 0L)
    val totalBytes = files.map(_.getLen).sum
    val df = readPartitions(spark, root,
      StructType(fileSchema(spark, files.head).fields ++ partSchema.fields), dirs.map(_.path))
    val dataCols = df.columns.filterNot(partitionCols.contains).toSeq
    val totalRows = df.count()
    if (totalRows == 0) return (before, before)
    if (partitionCols.isEmpty) {
      // unpartitioned table: per-partition staging/swap degenerates to a
      // whole-table replace (publishStaged's relative-path walk needs ≥1
      // partition level, and the data-column salt is pointless with one
      // file group) — right-size with a plain repartition + atomic swap
      val nFiles = math.max(1L, totalBytes / math.max(targetBytes, 1L) + 1L)
        .min(Int.MaxValue.toLong).toInt
      atomicReplace(spark, df.repartition(nFiles), root)
      return (before, fileCount())
    }
    val bytesPerRow = math.max(1.0, totalBytes.toDouble / totalRows)
    val keys = partitionCols.indices.map(i => s"_key$i")
    val stats = df.groupBy(partitionCols.zip(keys).map { case (c, k) => col(c).as(k) }: _*)
      .agg(count(lit(1)).as("_rows"))
      .withColumn("_nfiles",
        greatest(lit(1L), ceil(col("_rows") * bytesPerRow / targetBytes)))
      .drop("_rows")
    // null-safe: a __HIVE_DEFAULT_PARTITION__ directory reads back as a null key
    val onKeys = partitionCols.zip(keys).map { case (c, k) => col(c) <=> col(k) }.reduce(_ && _)
    val salted = df.join(broadcast(stats), onKeys).drop(keys: _*)
      .withColumn("_salt", pmod(xxhash64(dataCols.map(col): _*), col("_nfiles")))
    val nTasks = math.max(1, math.min(Int.MaxValue.toLong, totalBytes / math.max(targetBytes, 1L) + 1).toInt)
    val staging = new Path(root + ".compacting-" + System.nanoTime())
    salted.repartition(nTasks, (partitionCols :+ "_salt").map(col): _*)
      .drop("_salt", "_nfiles")
      .write.partitionBy(partitionCols: _*).parquet(staging.toString)
    publishStaged(fs(spark, root), staging, root, partitionCols.length)
    (before, fileCount())
  }

  /** Full-table atomic replace via write-temp-then-swap, for whole-table
    * rewrites (unpartitioned compaction and staged overwrite, the IVF index)
    * where a plain read-modify-write could expose a half-written table to
    * concurrent readers (SURVEY §7.4 item 2).
    *
    * The new content is materialized under `<root>.staging-<nanos>`, the old
    * root is renamed aside, the staging dir renamed in, and the old data
    * deleted. Renames are atomic per filesystem (HDFS/posix), so readers
    * never see HALF-written data — but there is a sub-millisecond window
    * between the two renames where the path does not exist at all, and a
    * crash in it leaves the table only under `<root>.old-<nanos>`; a caller
    * must not read a missing root as an empty table.
    * On object stores a table format would be the real answer — out of
    * scope here.
    */
  def atomicReplace(spark: SparkSession, df: DataFrame, root: String): Unit = {
    val hfs = fs(spark, root)
    val target = new Path(root)
    val staging = new Path(root + ".staging-" + System.nanoTime())
    val trash = new Path(root + ".old-" + System.nanoTime())
    df.write.mode("overwrite").parquet(staging.toString)
    if (hfs.exists(target) && !hfs.rename(target, trash))
      throw new IllegalStateException(s"cannot move aside $target")
    if (!hfs.rename(staging, target)) {
      // roll back so readers still see the previous table
      if (hfs.exists(trash)) hfs.rename(trash, target)
      throw new IllegalStateException(s"cannot publish $staging to $target")
    }
    if (hfs.exists(trash)) hfs.delete(trash, true)
  }

  /** Range-sorted layout writer: `nFiles` files with DISJOINT, ordered
    * `orderCol` ranges (repartitionByRange boundaries + an in-partition
    * sort). The data-layout half of scan pruning: parquet stores per-file
    * and per-row-group min/max for the sort column, so a range predicate
    * skips whole files/row groups at read time — the poor engineer's
    * Z-order for a single dominant filter column (time, id range). The
    * partition count is the file count; pick `nFiles` ≈ table bytes /
    * desired file size.
    *
    * Boundaries come from Spark's range-exchange SAMPLING, so exact file
    * boundaries can vary between runs — the CONTRACT (disjointness +
    * internal order + row preservation) is what holds, and what the spec
    * pins. NULL order keys sort first into the lowest file (Spark
    * NULLS FIRST default). */
  def writeRangeSorted(df: DataFrame, root: String, orderCol: String,
                       nFiles: Int): Unit = {
    require(nFiles >= 1, s"nFiles ($nFiles) must be >= 1")
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(root)
  }
}
