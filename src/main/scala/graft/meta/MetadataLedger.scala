package graft.meta

import java.io.FileNotFoundException
import java.nio.ByteOrder
import java.nio.file.NoSuchFileException
import java.sql.{Date, Timestamp}
import java.time.Instant
import java.time.temporal.ChronoUnit
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64, INT96}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, DateType, StringType, TimestampType}

import graft.pipeline.Schemas
import graft.sources.ParquetLake.{fs, hidden}

/** Processed-partition ledger: a directory of small Parquet files with
  * logical primary key (layer, city, date) and replace-on-conflict upsert.
  *
  * The reference gets PK semantics for free from DuckDB
  * (`INSERT OR REPLACE`, reference metadata.py:3-9, silver.py:57-60). Here
  * the driver reads and writes the files itself with parquet-hadoop, so the
  * ledger runs no Spark job. Its state is the newest-`processed_at`-wins
  * merge of every visible data file. The files keep [[Schemas.metadata]] as
  * the schema Spark infers, so while the ledger is one visible file (as
  * every completed upsert leaves it) `spark.read.parquet` reads the same
  * rows. Spark does not merge: where two visible files overlap (see below)
  * it returns a key once per file holding it, until the next upsert.
  *
  * Publishing only ever adds a complete file before it removes one: an
  * upsert writes the merged ledger under a hidden `_`-prefixed name, renames
  * it visible, and only then deletes the files it merged from — files whose
  * rows its own file already holds. Neither a crash at any step nor writers
  * racing can lose a row: at worst a hidden file is left behind (ignored) or
  * two visible files overlap (merged by the next read, folded into one by
  * the next upsert). The ledger is partition-granularity metadata, one row
  * per (layer, city, date), so it stays small however large the lake grows.
  */
object MetadataLedger {

  /** Test-only hook, called with the step a read or upsert has reached:
    * `listed` (data files listed, not yet read), `written` (merged file
    * written under its hidden name) and `published` (renamed visible, the
    * merged-from files not yet deleted). Lets specs run a second writer
    * inside a window, or abort at a step as a crash would. No-op in
    * production. */
  private[graft] var onStepForTest: String => Unit = _ => ()

  /** Create-if-missing (reference metadata.py:1-10 DDL): a directory with
    * no data file is the empty ledger. */
  def ensure(spark: SparkSession, path: String): Unit =
    fs(spark, path).mkdirs(new Path(path))

  /** The ledger's rows, one per key. A missing directory is the empty
    * ledger. */
  def read(spark: SparkSession, path: String): Seq[Row] =
    snapshot(spark, path)._2

  /** Partitions already processed for a layer, as driver-side (city, date)
    * rows (reference silver.py:15-20). */
  def processed(spark: SparkSession, path: String, layer: String): Set[Row] =
    read(spark, path).collect { case r if r.getString(0) == layer => Row(r.get(1), r.get(2)) }.toSet

  /** PK-replace upsert of `layer`'s driver-side (city, date) `keys`;
    * `processed_at` is stamped here (reference silver.py:59
    * CURRENT_TIMESTAMP). Safe under concurrent writers and crashes (see the
    * object doc). */
  def upsert(spark: SparkSession, path: String, layer: String, keys: Seq[Row]): Unit =
    if (keys.nonEmpty) {
      val hfs = fs(spark, path)
      val (files, current) = snapshot(spark, path)
      val now = Timestamp.from(Instant.now().truncatedTo(ChronoUnit.MICROS))
      val name = s"part-${UUID.randomUUID()}.parquet"
      val hidden = new Path(path, "_" + name)
      write(spark.sparkContext.hadoopConfiguration, hidden,
        merge(current, keys.map(k => Row(layer, k.get(0), k.get(1), now))))
      onStepForTest("written")
      if (!hfs.rename(hidden, new Path(path, name)))
        throw new IllegalStateException(s"ledger $path: cannot publish $hidden")
      onStepForTest("published")
      files.foreach(hfs.delete(_, false))
    }

  /** `current` rows merged with `incoming` ones, one row per key: per key
    * the newest `processed_at` wins, and an incoming row wins a tie. */
  private[meta] def merge(current: Seq[Row], incoming: Seq[Row]): Seq[Row] = {
    // by processed_at; a null stamp is the oldest
    val age = Ordering.by((r: Row) => Option(r.getTimestamp(3)).map(t => (t.getTime, t.getNanos)))
    (current ++ incoming).foldLeft(Map.empty[Row, Row]) { (acc, r) =>
      val key = Row(r.get(0), r.get(1), r.get(2))
      if (acc.get(key).exists(age.lt(r, _))) acc else acc.updated(key, r)
    }.values.toSeq
  }

  /** The visible data files and their merged rows. A listed file that
    * vanishes before it is read was merged into a file published since, so
    * the listing is taken again. */
  private def snapshot(spark: SparkSession, path: String): (Seq[Path], Seq[Row]) = {
    val hfs = fs(spark, path)
    val dir = hfs.makeQualified(new Path(path))
    // a local listStatus stats each name and silently drops one deleted
    // meanwhile, hiding both it and a superset renamed in after the
    // directory read; the bare directory read sees one or the other. Chosen
    // by scheme, not by class: whatever class a session resolves `file:` to
    // (Hive's ProxyLocalFileSystem is not a LocalFileSystem) lists the same
    // local directory.
    val names =
      if (dir.toUri.getScheme == "file") Option(new java.io.File(dir.toUri).list()).toSeq.flatten
      else try hfs.listStatus(dir).toSeq.map(_.getPath.getName)
           catch { case _: FileNotFoundException => Nil }
    val files = names.map(new Path(dir, _)).filterNot(hidden)
    onStepForTest("listed")
    // a vanished file surfaces as either exception, its checksum file's too
    try (files, merge(files.flatMap(readFile(spark.sparkContext.hadoopConfiguration, _)), Nil))
    catch { case _: FileNotFoundException | _: NoSuchFileException => snapshot(spark, path) }
  }

  /** How one ledger column is stored: its Parquet type, which Spark reads
    * back as the column's type, and its value conversions. */
  private final case class Codec(parquet: Type, put: (Group, Any) => Unit, get: Group => Any)

  private def codec(name: String, t: DataType): Codec = t match {
    case StringType => Codec(Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(name),
      (g, v) => g.add(name, v.asInstanceOf[String]), _.getString(name, 0))
    case DateType => Codec(Types.optional(INT32).as(LogicalTypeAnnotation.dateType()).named(name),
      (g, v) => g.add(name, DateTimeUtils.fromJavaDate(v.asInstanceOf[Date])),
      g => DateTimeUtils.toJavaDate(g.getInteger(name, 0)))
    case TimestampType => Codec(
      Types.optional(INT64).as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(name),
      (g, v) => g.add(name, DateTimeUtils.fromJavaTimestamp(v.asInstanceOf[Timestamp])),
      g => DateTimeUtils.toJavaTimestamp(
        // INT96 is how Spark wrote the ledger's files before the driver did
        if (g.getType.getType(name).asPrimitiveType.getPrimitiveTypeName != INT96) g.getLong(name, 0)
        else {
          val b = g.getInt96(name, 0).toByteBuffer.order(ByteOrder.LITTLE_ENDIAN)
          val nanos = b.getLong
          DateTimeUtils.fromJulianDay(b.getInt, nanos)
        }))
  }

  private val codecs = Schemas.metadata.fields.toSeq.map(f => codec(f.name, f.dataType))

  private val parquetSchema = new MessageType("spark_schema", codecs.map(_.parquet).asJava)

  /** The rows of one ledger file. The reader is built on `conf` itself:
    * `ParquetReader.builder(readSupport, path)` starts from a fresh Hadoop
    * configuration, which parses Hadoop's default resources on every read. */
  private def readFile(conf: Configuration, file: Path): Seq[Row] = {
    // a vanished file throws FileNotFoundException here, from its stat
    val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
      override def getReadSupport = new GroupReadSupport
    }.build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      Row.fromSeq(codecs.map(c => if (g.getFieldRepetitionCount(c.parquet.getName) == 0) null else c.get(g)))
    }.toVector
    finally reader.close()
  }

  private def write(conf: Configuration, file: Path, rows: Seq[Row]): Unit = {
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(parquetSchema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(parquetSchema)
      for (i <- codecs.indices if !r.isNullAt(i)) codecs(i).put(g, r.get(i))
      writer.write(g)
    } finally writer.close()
  }
}
