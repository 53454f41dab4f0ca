package org.apache.spark.sql.execution.datasources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` pieces of Spark's file-source resolution
  * that `graft.sources.LakeFileIndex` reuses, so a lake read types its
  * partitions, its schema and its errors exactly as `spark.read.parquet`
  * does without going through `DataSource`. */
object GraftFileIndexBridge {

  /** Spark's partition discovery over the leaf directories `leaves` of the
    * table at `root`: column names from the `col=value` names, types
    * inferred from the values under the session's settings, as Spark's file
    * index infers them. A column's type depends only on the set of its
    * names, so the types are inferred from the leaves that first show each
    * name, and every leaf's names are then cast to them, as under a
    * declared schema: inference tries each type in turn and costs far more
    * than a cast. */
  def inferPartitioning(spark: SparkSession, root: Path, leaves: Seq[Path]): PartitionSpec = {
    val conf = spark.sessionState.conf
    def parse(paths: Seq[Path], schema: Option[StructType]) =
      PartitioningUtils.parsePartitions(paths,
        typeInference = conf.partitionColumnTypeInferenceEnabled,
        basePaths = Set(root),
        userSpecifiedSchema = schema,
        caseSensitive = conf.caseSensitiveAnalysis,
        validatePartitionColumns = conf.validatePartitionColumns,
        timeZoneId = conf.sessionLocalTimeZone,
        ignoreInvalidPartitionPaths = false)
    val names = mutable.Set.empty[String]
    val firsts = leaves.filter(_.toString.stripPrefix(root.toString).split('/').map(names.add).contains(true))
    parse(leaves, Some(parse(firsts, None).partitionColumns))
  }

  /** `schema` with every field nullable, as a file source reports it. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** `PATH_NOT_FOUND`, as a read of the missing `path` raises it. */
  def pathNotFound(path: String): Throwable = QueryCompilationErrors.dataPathNotExistError(path)

  /** `UNABLE_TO_INFER_SCHEMA`, as a read of a table with no data file raises it. */
  def unableToInferSchema(format: String): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError(format)
}
