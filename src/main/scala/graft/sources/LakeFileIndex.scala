package graft.sources

import scala.collection.immutable.AbstractMap
import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec, PartitioningAwareFileIndex}

import graft.sources.ParquetLake.PartitionDir

/** Spark's `FileIndex` over the leaves of one walk of the lake's partition
  * catalog ([[ParquetLake.read]], [[ParquetLake.readPartitions]]).
  *
  * Pruning, `_metadata` columns and file filtering are Spark's own
  * (`PartitioningAwareFileIndex.listFiles`); only the listing differs. The
  * leaves and their partition values are fixed when the index is built. A
  * leaf's files are listed the first time Spark's partition pruning keeps
  * it, through a lazily filled `leafDirToChildrenFiles`, and are reused by
  * every later query until [[refresh]]. Anything that needs every file
  * (`inputFiles`, the relation's size for a join's statistics, an
  * unpartitioned table) lists every leaf.
  *
  * Two indexes are equal when they have the same root and the same leaves,
  * so two reads of an unchanged table give plans with the same result, and
  * a cached one is reused. */
private[sources] final class LakeFileIndex(spark: SparkSession, root: Path, initial: LakeFileIndex.Catalog,
                                           rebuild: () => LakeFileIndex.Catalog)
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  @volatile private var catalog = initial

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSpec(): PartitionSpec = catalog.spec

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = catalog.files

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap.from(allFiles().map(f => f.getPath -> f))

  override def allFiles(): Seq[FileStatus] = catalog.leaves.flatMap(_.files)

  /** Forgets every listed leaf: the catalog is walked again, or, for a read
    * of given leaves, the same leaves are listed afresh when next kept. */
  override def refresh(): Unit = catalog = rebuild()

  override def equals(other: Any): Boolean = other match {
    case o: LakeFileIndex => rootPaths == o.rootPaths && catalog.dirs == o.catalog.dirs
    case _ => false
  }

  override def hashCode: Int = root.hashCode
}

private[sources] object LakeFileIndex {

  /** The leaves of one walk and their partition values; `spec` lists the
    * leaves' paths, each the `dir` of one of `leaves`. */
  final case class Catalog(spec: PartitionSpec, leaves: Seq[PartitionDir]) {
    lazy val dirs: Set[Path] = leaves.map(_.dir).toSet
    lazy val files: Map[Path, Array[FileStatus]] = new LeafFiles(leaves)
  }

  /** A leaf's files by its path, listed on the first `get`. */
  private final class LeafFiles(leaves: Seq[PartitionDir]) extends AbstractMap[Path, Array[FileStatus]] {
    private val byDir = leaves.map(l => l.dir -> l).toMap
    def get(dir: Path): Option[Array[FileStatus]] = byDir.get(dir).map(_.files.toArray)
    def iterator: Iterator[(Path, Array[FileStatus])] = leaves.iterator.map(l => l.dir -> l.files.toArray)
    def removed(dir: Path): Map[Path, Array[FileStatus]] = iterator.toMap - dir
    def updated[V >: Array[FileStatus]](dir: Path, files: V): Map[Path, V] = iterator.toMap.updated(dir, files)
  }
}
