package graft.sources

import java.io.File
import java.sql.Date
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkFunSuite

/** The driver-side partition catalog ([[ParquetLake.partitionDirs]]) and
  * the pending read ([[ParquetLake.readPartitions]]) against Spark's own
  * partition discovery. */
class PartitionCatalogSpec extends SparkFunSuite {
  import spark.implicits._

  private val parts = StructType(Seq(StructField("city", StringType), StructField("date", DateType)))
  private val schema = StructType(StructField("v", LongType) +: parts.fields)

  private def table(rows: Seq[(Long, String, String)]): String = {
    val root = tmpDir("catalog") + "/t"
    rows.map { case (v, c, d) => (v, c, Date.valueOf(d)) }.toDF("v", "city", "date")
      .write.partitionBy("city", "date").parquet(root)
    root
  }

  private def readAll(root: String, dirs: Seq[ParquetLake.PartitionDir]): Set[Row] =
    ParquetLake.readPartitions(spark, root, schema, dirs.map(_.path)).collect().toSet

  test("escaped city names round-trip through the catalog and the read") {
    val cities = Seq("New York", "a=b", "x/y", "São Paulo", "50% off", "{br}[ack]?*")
    val root = table(cities.zipWithIndex.map { case (c, i) => (i.toLong, c, "2026-02-13") })
    val dirs = ParquetLake.partitionDirs(spark, root, parts)
    assert(dirs.map(_.values.getString(0)).toSet == cities.toSet)
    assert(dirs.forall(_.values.getDate(1) == Date.valueOf("2026-02-13")))
    assert(readAll(root, dirs) == spark.read.schema(schema).parquet(root).collect().toSet)
    assert(readAll(root, dirs).map(_.getString(1)) == cities.toSet)
  }

  test("__HIVE_DEFAULT_PARTITION__ is a null key, read back null-safely") {
    val root = table(Seq((1L, null, "2026-02-13"), (2L, "Delhi", "2026-02-13")))
    val dirs = ParquetLake.partitionDirs(spark, root, parts)
    val nullDir = dirs.filter(_.values.isNullAt(0))
    assert(nullDir.map(_.values) == Seq(Row(null, Date.valueOf("2026-02-13"))))
    assert(readAll(root, nullDir) == Set(Row(1L, null, Date.valueOf("2026-02-13"))))
  }

  test("_temporary, dot-prefixed and empty leaf directories are ignored") {
    val root = table(Seq((1L, "Delhi", "2026-02-13")))
    def touch(rel: String): Unit = {
      val f = new File(root, rel); f.getParentFile.mkdirs(); assert(f.createNewFile())
    }
    touch("_temporary/0/city=Delhi/date=2026-02-14/part-0.parquet")
    touch(".staging/city=Delhi/date=2026-02-15/part-0.parquet")
    touch("city=Delhi/.date=2026-02-16/part-0.parquet")
    assert(new File(root, "city=Delhi/date=2026-02-17").mkdirs()) // empty leaf
    touch("city=Delhi/date=2026-02-18/_SUCCESS") // leaf with markers only
    touch("city=Delhi/date=2026-02-18/.part-0.parquet.crc")
    touch("city=London/_SUCCESS")
    val dirs = ParquetLake.partitionDirs(spark, root, parts)
    assert(dirs.map(_.values) == Seq(Row("Delhi", Date.valueOf("2026-02-13"))))
    assert(readAll(root, dirs) == Set(Row(1L, "Delhi", Date.valueOf("2026-02-13"))))
  }

  test("a missing root throws; an off-layout directory fails loudly") {
    val base = tmpDir("catalog")
    intercept[java.io.FileNotFoundException] {
      ParquetLake.partitionDirs(spark, s"$base/nope", parts)
    }
    val root = table(Seq((1L, "Delhi", "2026-02-13")))
    assert(new File(root, "city=Delhi/stray").mkdirs())
    val e = intercept[IllegalArgumentException](ParquetLake.partitionDirs(spark, root, parts))
    assert(e.getMessage.contains("expected date=<value>"))
  }
}
