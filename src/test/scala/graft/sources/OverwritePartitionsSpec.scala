package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** [[ParquetLake.overwritePartitions]], the one way the lake rewrites
  * partitions: a staged write swapped in leaf by leaf, at any depth. */
class OverwritePartitionsSpec extends SparkFunSuite {
  import spark.implicits._

  private val nested = Seq("city", "date")

  private def table(rows: (String, String, Int)*): DataFrame = rows.toDF("city", "date", "v")

  /** The table's rows, its first column named `key`; partition columns are
    * read back as the strings their directory names spell. */
  private def rows(root: String, key: String = "city"): Seq[Row] =
    spark.read.schema(s"`$key` STRING, date STRING, v INT").parquet(root)
      .select(key, "date", "v").orderBy(key, "date", "v").collect().toSeq

  /** The names beside `root` in its parent directory. */
  private def siblings(root: String): Seq[String] = {
    val f = new File(root)
    f.getParentFile.list().toSeq.filter(_ != f.getName)
  }

  test("depth 2: the written partitions are replaced and the others kept") {
    // the first level as plain names, named with a leading underscore,
    // zero-padded (`007` must not become `7`) and with a null partition
    for ((key, a, b, c) <- Seq(("city", "a", "b", "c"), ("_p", "a", "b", "c"),
                               ("region", "007", "010", "012"), ("city", null, "b", "c"))) {
      val root = tmpDir("owp") + "/t"
      def write(rows: (String, String, Int)*): Set[Row] =
        ParquetLake.overwritePartitions(table(rows: _*).withColumnRenamed("city", key), root, Seq(key, "date"))
          .toSet
      // the values of the leaves swapped in, typed as the written columns
      assert(write((a, "1", 1), (a, "2", 2), (b, "1", 3)) == Set(Row(a, "1"), Row(a, "2"), Row(b, "1")), key)
      assert(write((a, "2", 20), (a, "2", 21), (c, "1", 30)) == Set(Row(a, "2"), Row(c, "1")), key)
      assert(rows(root, key) == Seq(Row(a, "1", 1), Row(a, "2", 20), Row(a, "2", 21),
        Row(b, "1", 3), Row(c, "1", 30)), key)
      assert(new File(root).list().toSeq.sorted ==
        Seq(a, b, c).map(v => s"$key=${Option(v).getOrElse("__HIVE_DEFAULT_PARTITION__")}"), key)
      assert(siblings(root) == Nil, key)
    }
  }

  test("depth 0: the root is the one partition, so the whole table is replaced") {
    val root = tmpDir("owp0") + "/t"
    ParquetLake.overwritePartitions(table(("a", "1", 1), ("b", "1", 2)), root, Nil)
    assert(ParquetLake.overwritePartitions(table(("c", "1", 3)), root, Nil) == Seq(Row()))
    assert(rows(root) == Seq(Row("c", "1", 3)))
    assert(siblings(root) == Nil)
  }

  test("a rewrite may read the table it replaces") {
    for (cols <- Seq(Nil, nested)) {
      val root = tmpDir("owpself") + "/t"
      ParquetLake.overwritePartitions(table(("a", "1", 1), ("b", "2", 2)), root, cols)
      ParquetLake.overwritePartitions(
        spark.read.parquet(root).select($"city", $"date".cast("string").as("date"), ($"v" * 10).as("v")),
        root, cols)
      assert(rows(root) == Seq(Row("a", "1", 10), Row("b", "2", 20)), cols)
      assert(siblings(root) == Nil, cols)
    }
  }

  test("a failing write leaves no staging or aside sibling and the earlier rows unchanged") {
    for (cols <- Seq(Nil, nested)) {
      val root = tmpDir("owpfail") + "/t"
      ParquetLake.overwritePartitions(table(("a", "1", 1), ("b", "1", 2)), root, cols)
      val before = rows(root)
      // two files, so two tasks run together: one fails at once, the other
      // writes its row a second later, after its job has already failed (it
      // spins, so the interrupt that cancels it does not cut the wait short)
      val input = tmpDir("owpinput") + "/in"
      table(("a", "1", 10)).write.parquet(input)
      table(("b", "1", -1)).write.mode("append").parquet(input)
      val slow = udf { (v: Int) => OverwritePartitionsSpec.spin(); v }
      val failing = spark.read.parquet(input)
        .withColumn("v", when($"v" < 0, raise_error(lit("bad reading"))).otherwise(slow($"v")))
      val e = intercept[Exception](ParquetLake.overwritePartitions(failing, root, cols))
      Thread.sleep(2000) // past the late task's write
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("bad reading")), e)
      assert(rows(root) == before, cols)
      assert(siblings(root) == Nil, cols)
    }
  }
}

object OverwritePartitionsSpec {

  /** Busy-waits for a second. Unlike `Thread.sleep`, it is not cut short by
    * the interrupt with which Spark cancels a task. */
  def spin(): Unit = {
    val end = System.nanoTime() + 1000L * 1000 * 1000
    while (System.nanoTime() < end) {}
  }
}
