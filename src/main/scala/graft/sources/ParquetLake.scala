package graft.sources

import java.io.FileNotFoundException

import scala.annotation.tailrec

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericRowWithSchema, Literal}
import org.apache.spark.sql.execution.datasources.{GraftFileIndexBridge, HadoopFsRelation, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Partitioned-Parquet lake primitives.
  *
  * Mirrors the reference's storage surface (Hive-partitioned Parquet read
  * via glob with `hive_partitioning=true`, per-partition `COPY ... OVERWRITE
  * TRUE` writes — reference silver.py:36,50-54, gold.py:78,86-90) with the
  * Spark-native equivalents: on read, Spark's file-source scan planned over
  * the driver-side partition [[catalog]] ([[LakeFileIndex]]), which lists a
  * leaf only when a query keeps it; on write, one staged per-partition swap
  * ([[overwritePartitions]]) that replaces only the partitions written.
  * Spark's own overwrite would not do: its default mode truncates the whole
  * root, deleting sibling partitions on an incremental rerun, and its
  * dynamic mode deletes a partition's old files before it publishes the new
  * ones.
  */
object ParquetLake {

  private[graft] def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Read a partitioned table root, a plain table directory (not a glob),
    * as `spark.read.parquet(root)` reads it, with no Spark job and no
    * `DataSource` resolution before its first action.
    *
    * The relation is Spark's own `HadoopFsRelation` over a
    * [[LakeFileIndex]] built from one [[catalog]] walk: the partition-name
    * levels are listed here, the depth found by listing leaf-level
    * directories in order until one holds a data file, and the partition
    * columns are named and typed from the leaf names by Spark's own
    * partition inference. The data schema is the footer schema of that
    * first data file ([[fileSchema]]), made nullable: the one footer Spark's
    * inference would read, through a job, since it too assumes every part
    * file has the same schema. `spark.sql.parquet.mergeSchema` is not
    * consulted.
    *
    * Snapshots: the leaf names are those of the walk made here; a leaf
    * created afterwards is not read, one deleted afterwards reads as empty.
    * A leaf's files are listed when a query's partition pruning first keeps
    * it, and kept for later queries on the same DataFrame until the index is
    * refreshed (`spark.catalog.refreshByPath` on a cached read). So a leaf
    * that [[overwritePartitions]] swaps after this call, but before any query
    * kept it, is read with its new files. Unlike Spark's listing, the
    * partition types are inferred from every leaf name the walk finds,
    * including leaves that turn out to hold no data file.
    *
    * A missing root fails with Spark's `PATH_NOT_FOUND`, a root with no data
    * file with `UNABLE_TO_INFER_SCHEMA`. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val table = fs(spark, root).makeQualified(new Path(root))
    def walked() = {
      val leaves = try catalog(spark, table.toString, None) catch {
        case _: FileNotFoundException => throw GraftFileIndexBridge.pathNotFound(table.toString)
      }
      LakeFileIndex.Catalog(GraftFileIndexBridge.inferPartitioning(spark, table, leaves.map(_.dir)), leaves)
    }
    val first = walked()
    val file = first.leaves.iterator.flatMap(_.files).nextOption()
      .getOrElse(throw GraftFileIndexBridge.unableToInferSchema("Parquet"))
    relation(spark, new LakeFileIndex(spark, table, first, () => walked()),
      GraftFileIndexBridge.asNullable(fileSchema(spark, file)))
  }

  private def relation(spark: SparkSession, index: LakeFileIndex, dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, index.partitionSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(spark))

  /** Entries the catalog skips: in-flight `_temporary` output, `_SUCCESS`
    * markers, checksums, any other `.`-prefixed name and any other
    * `_`-prefixed name without an `=`. Spark's file index skips the same, so
    * a `_p=a` partition directory is kept; it also keeps Parquet summary
    * files, which are not data. */
  private[graft] def hidden(p: Path) = {
    val name = p.getName
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
  }

  /** One leaf directory of a Hive-partitioned table: its partition values in
    * partition-schema order, typed as `collect` returns them (a row carrying
    * the partition schema; null for `__HIVE_DEFAULT_PARTITION__`), its path
    * and its data files. The files are listed on first use, not when the
    * leaf is found, and that listing checks the leaf's depth: a leaf holding
    * a subdirectory throws `IllegalArgumentException` then. */
  final class PartitionDir private[sources] (val values: Row, private[sources] val dir: Path,
                                             list: () => Seq[FileStatus], listed: Option[Seq[FileStatus]]) {
    def path: String = dir.toString
    lazy val files: Seq[FileStatus] = listed.getOrElse(list())
    /** The same leaf with its listing forgotten. */
    private[sources] def relisted: PartitionDir = new PartitionDir(values, dir, list, None)
  }

  /** Driver-side partition catalog: every `col=value` leaf directory under
    * `root`, one directory level per field of `partitionSchema`, found by
    * plain `listStatus` calls on the partition-name levels above the
    * leaves. No leaf is listed: a leaf's [[PartitionDir.files]] are listed
    * when first used, so a caller that keeps some leaves by their values
    * lists only those, and a leaf that lists no data file is one the caller
    * must treat as absent. A Spark read of the root lists the same tree with
    * a distributed job per directory holding more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) children;
    * this runs no job at all.
    *
    * Skips [[hidden]] entries, as Spark's file index does. Names are
    * unescaped and each value is cast to its `partitionSchema` type, never
    * inferred, so `values` equal the partition columns Spark reads back with
    * that schema declared: under a string column `region=007` is "007", not
    * 7. An empty `partitionSchema` makes the root the one leaf of an
    * unpartitioned table. A name level that holds a data file (the table is
    * shallower than `partitionSchema`) or a directory not named
    * `<field>=<value>` throws `IllegalArgumentException`, and so does a leaf
    * holding a subdirectory (deeper), when it is listed; a missing root
    * throws `FileNotFoundException`.
    *
    * `partitionSchema = None` finds the depth instead, as [[read]] needs: at
    * each level the directories are listed in order until one holds a data
    * file, which makes the level the leaves' (those listings become the
    * listed leaves' files), or a subdirectory, which makes it a name level.
    * Values are then the unescaped names as strings. */
  private[graft] def catalog(spark: SparkSession, root: String,
                             partitionSchema: Option[StructType]): Seq[PartitionDir] = {
    val hfs = fs(spark, root)
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def entries(dir: Path) = hfs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath)).partition(_.isFile)
    final class Node(val dir: Path, val keys: List[String], val raw: List[String]) {
      var listing: Option[(Seq[FileStatus], Seq[FileStatus])] = None
      def list(): (Seq[FileStatus], Seq[FileStatus]) = listing.getOrElse {
        listing = Some(entries(dir)); listing.get
      }
      def names = keys.reverse.mkString("(", ", ", ")")
      def leafFiles(l: (Seq[FileStatus], Seq[FileStatus])): Seq[FileStatus] = {
        require(l._2.isEmpty, s"table $root is partitioned deeper than $names: $dir has subdirectories")
        l._1
      }
    }
    @tailrec def descend(nodes: Seq[Node], level: Int): Seq[Node] = {
      val atLeaves = partitionSchema match {
        case Some(s) => level == s.length
        case None => nodes.iterator.map(_.list()).find(l => l._1.nonEmpty || l._2.nonEmpty).forall(_._1.nonEmpty)
      }
      if (atLeaves) nodes
      else descend(nodes.flatMap { n =>
        val (files, subdirs) = n.list()
        require(files.isEmpty, s"table $root is partitioned shallower than " +
          partitionSchema.fold(n.names)(_.fieldNames.mkString("(", ", ", ")")) + s": ${n.dir} holds data files")
        subdirs.map { s =>
          val name = s.getPath.getName
          val eq = name.indexOf('=')
          val key = ExternalCatalogUtils.unescapePathName(name.take(math.max(eq, 0)))
          val field = partitionSchema.fold("<column>")(_(level).name)
          require(eq > 0 && (partitionSchema.isEmpty || key == field),
            s"unexpected directory ${s.getPath} in table $root: expected $field=<value>")
          new Node(s.getPath, key :: n.keys, ExternalCatalogUtils.unescapePathName(name.drop(eq + 1)) :: n.raw)
        }
      }, level + 1)
    }
    descend(Seq(new Node(hfs.makeQualified(new Path(root)), Nil, Nil)), 0).map { n =>
      val schema = partitionSchema.getOrElse(StructType(n.keys.reverse.map(StructField(_, StringType))))
      val values = n.raw.reverse.zip(schema.fields).map { case (raw, f) =>
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
        else CatalystTypeConverters.convertToScala(Cast(Literal(raw), f.dataType, tz).eval(), f.dataType)
      }
      new PartitionDir(new GenericRowWithSchema(values.toArray, schema), n.dir,
        () => n.leafFiles(entries(n.dir)), n.listing.map(n.leafFiles))
    }
  }

  /** The [[catalog]] of `root` with every leaf listed: the leaves that hold a
    * data file, as Spark's file index finds them. Any depth mismatch throws
    * here. */
  def partitionDirs(spark: SparkSession, root: String,
                    partitionSchema: StructType): Seq[PartitionDir] =
    catalog(spark, root, Some(partitionSchema)).filter(_.files.nonEmpty)

  /** Read only the given leaf directories of a partitioned table (from
    * [[catalog]] or [[partitionDirs]]) with a declared `schema`, which holds
    * their partition columns with the types they were found with. No footer
    * is read: the relation is a [[LakeFileIndex]] over exactly these leaves,
    * their partition values are the `values` already cast from the
    * directory names, and each leaf not yet listed is listed when the read
    * runs. Columns come back as `spark.read.schema(schema)` with `basePath`
    * gives them: the data columns, then the partition columns. No
    * directories read as an empty table of `schema`. */
  def readPartitions(spark: SparkSession, root: String, schema: StructType,
                     dirs: Seq[PartitionDir]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val partitionSchema = StructType(dirs.head.values.schema.fieldNames.map(schema(_)))
      val toInternal = CatalystTypeConverters.createToCatalystConverter(partitionSchema)
      val spec = PartitionSpec(GraftFileIndexBridge.asNullable(partitionSchema),
        dirs.map(d => PartitionPath(toInternal(d.values).asInstanceOf[InternalRow], d.dir)))
      val index = new LakeFileIndex(spark, fs(spark, root).makeQualified(new Path(root)),
        LakeFileIndex.Catalog(spec, dirs), () => LakeFileIndex.Catalog(spec, dirs.map(_.relisted)))
      relation(spark, index, GraftFileIndexBridge.asNullable(
        StructType(schema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))))
    }

  /** The Spark schema of one Parquet file, from its footer, read on the
    * driver: Spark's own schema inference runs a job for it. The Spark schema
    * a Spark writer stores in the footer wins over the converted Parquet
    * schema, as in Spark's inference, so types only it records survive.
    * The reader's options are built on the session's Hadoop configuration:
    * `ParquetFileReader.open(file)` builds them on a fresh one, which parses
    * Hadoop's default resources on every call. */
  private[graft] def fileSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** Overwrite only the partitions present in `df`, leaving siblings
    * untouched (DuckDB `OVERWRITE TRUE` per-partition COPY semantics); with
    * no `partitionCols` the root is the one partition, so the whole table is
    * replaced. `options` go to the writer (and through it to the Parquet
    * writer's Hadoop configuration).
    *
    * `df` is written whole to a sibling `<root>.staging-<uuid>`, whose leaf
    * directories (listed by [[partitionDirs]]) are then swapped into `root`
    * one at a time: the live leaf is renamed aside to `<root>.aside-<uuid>`,
    * the staged leaf renamed in, and the aside deleted. The write ends
    * before any live file moves, so `df` may read `root` itself; after a
    * crash every leaf is either fully old or fully new (an old leaf caught
    * between the renames is under the aside directory). Both siblings are
    * deleted whether the publish succeeds or fails, except an aside leaf
    * that could not be put back.
    *
    * Returns the partition values of the leaves swapped in, one row per
    * leaf, cast to `df`'s types as [[catalog]] casts them (null for
    * `__HIVE_DEFAULT_PARTITION__`); with no `partitionCols`, one empty row. */
  def overwritePartitions(df: DataFrame, root: String, partitionCols: Seq[String],
                          options: Map[String, String] = Map.empty): Seq[Row] = {
    val spark = df.sparkSession
    val hfs = fs(spark, root)
    val id = java.util.UUID.randomUUID()
    val table = hfs.makeQualified(new Path(root))
    val staging = new Path(s"$table.staging-$id")
    val aside = new Path(s"$table.aside-$id")
    var stranded = false
    try {
      awaitTasksOnFailure(spark, staging)(
        df.write.options(options).partitionBy(partitionCols: _*).parquet(staging.toString))
      val leaves = partitionDirs(spark, staging.toString, StructType(partitionCols.map(df.schema(_))))
      for (leaf <- leaves) {
        val rel = leaf.path.stripPrefix(staging.toString).stripPrefix("/")
        def under(base: Path) = if (rel.isEmpty) base else new Path(base, rel)
        val (target, old) = (under(table), under(aside))
        val hadOld = hfs.exists(target)
        if (hadOld) {
          hfs.mkdirs(old.getParent)
          if (!hfs.rename(target, old)) throw new IllegalStateException(s"cannot move aside $target")
        }
        hfs.mkdirs(target.getParent)
        if (!hfs.rename(new Path(leaf.path), target)) {
          stranded = hadOld && !hfs.rename(old, target)
          throw new IllegalStateException(
            s"cannot publish $target" + (if (stranded) s"; its previous files are at $old" else ""))
        }
      }
      leaves.map(_.values)
    } finally {
      hfs.delete(staging, true)
      if (!stranded) hfs.delete(aside, true)
    }
  }

  /** Runs `write`, a Spark write into the new directory `dir`, and when it
    * fails rethrows only once none of its tasks runs any more (or after a
    * minute): a failed job returns while its other tasks still run, and one
    * of them can create files under `dir` after the caller has deleted it.
    * Spark's status store learns of jobs and tasks through its listener bus,
    * after the fact, so a job is waited for until the store records its end,
    * and, once `dir` exists (the write had begun), until the store knows of
    * a job at all. */
  private[graft] def awaitTasksOnFailure(spark: SparkSession, dir: Path)(write: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"graft-write-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try write
    catch {
      case e: Exception =>
        val tracker = sc.statusTracker
        val started = fs(spark, dir.toString).exists(dir)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        def running = {
          val jobs = tracker.getJobIdsForTag(tag).toSeq.flatMap(tracker.getJobInfo(_))
          (started && jobs.isEmpty) || jobs.exists { j =>
            j.status == JobExecutionStatus.RUNNING ||
              j.stageIds.exists(tracker.getStageInfo(_).exists(_.numActiveTasks > 0))
          }
        }
        while (running && System.nanoTime() < deadline) Thread.sleep(10)
        throw e
    } finally sc.removeJobTag(tag)
  }

  /** Append new files into the partition layout (bronze raw-landing
    * semantics, reference bronze.py:12-17). `options` go to the writer, as
    * in [[overwritePartitions]]. No `_SUCCESS` marker is written: in a root
    * that every append commits into, a marker says nothing about any one
    * append, and each append would rewrite it. [[hidden]] skips a marker
    * an older write left. */
  def appendPartitions(df: DataFrame, root: String, partitionCols: Seq[String],
                       options: Map[String, String]): Unit =
    df.write
      .options(options)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(partitionCols: _*)
      .mode("append")
      .parquet(root)
}
