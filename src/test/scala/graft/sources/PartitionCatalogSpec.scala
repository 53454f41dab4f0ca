package graft.sources

import java.io.File
import java.sql.Date
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkFunSuite

/** The driver-side partition catalog ([[ParquetLake.partitionDirs]]) and
  * the pending read ([[ParquetLake.readPartitions]]) against Spark's own
  * partition discovery, on the pipeline's (city, date) layout and on the
  * single-column layouts a keyed merge brings: an integer `cell_id`
  * (IvfIndex's postings) and a zero-padded string `region`. */
class PartitionCatalogSpec extends SparkFunSuite {

  /** A partition schema and three of its keys. */
  private case class Layout(parts: StructType, keys: Seq[Row]) {
    val schema = StructType(StructField("v", LongType) +: parts.fields)
    /** The leaf directory of `key`, relative to the table root. */
    def leaf(key: Row): String =
      parts.fieldNames.zip(key.toSeq).map { case (n, v) => s"$n=$v" }.mkString("/")
  }

  private val d13 = Date.valueOf("2026-02-13")
  private val cityDate = Layout(
    StructType(Seq(StructField("city", StringType), StructField("date", DateType))),
    Seq(Row("Delhi", d13), Row("Delhi", Date.valueOf("2026-02-14")), Row("London", d13)))
  private val layouts = Seq(cityDate,
    Layout(StructType(Seq(StructField("cell_id", IntegerType))), Seq(Row(7), Row(10), Row(-1))),
    Layout(StructType(Seq(StructField("region", StringType))), Seq(Row("007"), Row("010"), Row("7"))))

  /** A table of `l` holding one row `v` per (v, key). */
  private def table(l: Layout, rows: Seq[(Long, Row)]): String = {
    val root = tmpDir("catalog") + "/t"
    val data = rows.map { case (v, key) => Row.fromSeq(v +: key.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(data), l.schema)
      .write.partitionBy(l.parts.fieldNames: _*).parquet(root)
    root
  }

  private def readAll(l: Layout, root: String, dirs: Seq[ParquetLake.PartitionDir]): Set[Row] =
    ParquetLake.readPartitions(spark, root, l.schema, dirs.map(_.path)).collect().toSet

  test("escaped city names round-trip through the catalog and the read") {
    val cities = Seq("New York", "a=b", "x/y", "São Paulo", "50% off", "{br}[ack]?*")
    val root = table(cityDate, cities.zipWithIndex.map { case (c, i) => (i.toLong, Row(c, d13)) })
    val dirs = ParquetLake.partitionDirs(spark, root, cityDate.parts)
    assert(dirs.map(_.values.getString(0)).toSet == cities.toSet)
    assert(dirs.forall(_.values.getDate(1) == d13))
    assert(readAll(cityDate, root, dirs) ==
      spark.read.schema(cityDate.schema).parquet(root).collect().toSet)
    assert(readAll(cityDate, root, dirs).map(_.getString(1)) == cities.toSet)
    // every layout's keys come back typed as declared: "007" is neither 7 nor "7"
    for (l <- layouts) {
      val root = table(l, l.keys.zipWithIndex.map { case (k, i) => (i.toLong, k) })
      val dirs = ParquetLake.partitionDirs(spark, root, l.parts)
      assert(dirs.map(_.values).toSet == l.keys.toSet, l.parts)
      assert(readAll(l, root, dirs) == spark.read.schema(l.schema).parquet(root).collect().toSet)
      assert(readAll(l, root, dirs).size == 3, l.parts)
    }
  }

  test("__HIVE_DEFAULT_PARTITION__ is a null key, read back null-safely") {
    for (l <- layouts) {
      val nullKey = Row.fromSeq(null +: l.keys.head.toSeq.tail)
      val root = table(l, Seq(1L -> nullKey, 2L -> l.keys.head))
      val nullDir = ParquetLake.partitionDirs(spark, root, l.parts).filter(_.values.isNullAt(0))
      assert(nullDir.map(_.values) == Seq(nullKey), l.parts)
      assert(readAll(l, root, nullDir) == Set(Row.fromSeq(1L +: nullKey.toSeq)), l.parts)
    }
  }

  test("_temporary, dot-prefixed and empty leaf directories are ignored") {
    for (l <- layouts) {
      val Seq(k0, k1, k2) = l.keys
      val root = table(l, Seq(1L -> k0))
      def touch(rel: String): Unit = {
        val f = new File(root, rel); f.getParentFile.mkdirs(); assert(f.createNewFile(), rel)
      }
      val levels = l.leaf(k1).split('/')
      touch(s"_temporary/0/${l.leaf(k1)}/part-0.parquet")
      touch(s".staging/${l.leaf(k1)}/part-0.parquet")
      touch((levels.init :+ s".${levels.last}" :+ "part-0.parquet").mkString("/"))
      assert(new File(root, l.leaf(k1)).mkdirs()) // empty leaf
      touch(s"${l.leaf(k2)}/_SUCCESS") // leaf with markers only
      touch(s"${l.leaf(k2)}/.part-0.parquet.crc")
      if (l.parts.length > 1) touch(s"${l.leaf(k2).split('/').head}/_SUCCESS") // marker above the leaves
      val dirs = ParquetLake.partitionDirs(spark, root, l.parts)
      assert(dirs.map(_.values) == Seq(k0), l.parts)
      assert(readAll(l, root, dirs) == Set(Row.fromSeq(1L +: k0.toSeq)), l.parts)
    }
  }

  test("a partition column named with a leading underscore is listed, as Spark lists it") {
    val l = Layout(StructType(Seq(StructField("_p", StringType))), Seq(Row("a"), Row("b")))
    val root = table(l, Seq(1L -> Row("a"), 2L -> Row("b")))
    assert(new File(root, "_SUCCESS").exists()) // still hidden: no `=` in its name
    val dirs = ParquetLake.partitionDirs(spark, root, l.parts)
    assert(dirs.map(_.values).toSet == l.keys.toSet)
    val spark0 = spark.read.parquet(root)
    assert(readAll(l, root, dirs) == spark0.collect().toSet)
    val ours = ParquetLake.read(spark, root)
    assert(ours.schema == spark0.schema && ours.collect().toSet == spark0.collect().toSet)
  }

  test("a missing root throws; an off-layout directory fails loudly") {
    val base = tmpDir("catalog")
    for (l <- layouts) {
      intercept[java.io.FileNotFoundException] {
        ParquetLake.partitionDirs(spark, s"$base/nope", l.parts)
      }
      val root = table(l, Seq(1L -> l.keys.head))
      assert(new File(root, (l.leaf(l.keys.head).split('/').init :+ "stray").mkString("/")).mkdirs())
      val e = intercept[IllegalArgumentException](ParquetLake.partitionDirs(spark, root, l.parts))
      assert(e.getMessage.contains(s"expected ${l.parts.last.name}=<value>"), e.getMessage)
      // a partition schema of the wrong depth: one level short, one level over
      val ok = table(l, Seq(1L -> l.keys.head))
      val short = intercept[IllegalArgumentException] {
        ParquetLake.partitionDirs(spark, ok, StructType(l.parts.fields.init))
      }
      assert(short.getMessage.contains("deeper than"), short.getMessage)
      val over = intercept[IllegalArgumentException] {
        ParquetLake.partitionDirs(spark, ok, l.parts.add("extra", StringType))
      }
      assert(over.getMessage.contains("shallower than"), over.getMessage)
    }
  }
}
