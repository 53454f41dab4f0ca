package graft.operators

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class MergeByKeySpec extends SparkFunSuite {
  import spark.implicits._

  private def table(root: String): Unit =
    Seq(
      (1L, "p1", 1L, "a-v1"), (2L, "p1", 1L, "b-v1"),
      (3L, "p2", 1L, "c-v1"), (4L, "p3", 1L, "d-v1")
    ).toDF("id", "part", "version", "payload")
      .write.partitionBy("part").parquet(root)

  /** Every file under `root`, by relative path, with its bytes. */
  private def snapshot(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    val files = Files.walk(base)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map((f: Path) => base.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("merge works on an unpartitioned table (whole-table atomic replace)") {
    val root = tmpDir("merge_flat") + "/t"
    Seq((1L, 1L, "a-v1"), (2L, 1L, "b-v1")).toDF("id", "version", "payload")
      .write.parquet(root)
    val updates = Seq((1L, 2L, "a-v2"), (3L, 1L, "c-v1")).toDF("id", "version", "payload")
    MergeByKey.merge(spark, root, updates, Seq("id"), Nil, "version")
    val got = spark.read.parquet(root).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload"))).toSeq
    assert(got == Seq((1L, "a-v2"), (2L, "b-v1"), (3L, "c-v1")))
    assert(!new File(root).getParentFile.listFiles()
      .exists(_.getName.contains(".staging-")), "orphan staging dir left behind")
    // an empty batch touches nothing
    val before = snapshot(root)
    assert(MergeByKey.merge(spark, root, updates.limit(0), Seq("id"), Nil, "version") == 0)
    assert(snapshot(root) == before)
  }

  test("merge replaces matched keys, appends new keys, rewrites only touched partitions") {
    val root = tmpDir("merge") + "/t"
    table(root)
    val untouchedFiles = new File(s"$root/part=p3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val updates = Seq(
      (1L, "p1", 2L, "a-v2"), // replace
      (9L, "p2", 2L, "new-v2") // append into existing partition
    ).toDF("id", "part", "version", "payload")
    val n = MergeByKey.merge(spark, root, updates, Seq("id"), Seq("part"), "version")
    assert(n == 2)
    val got = spark.read.parquet(root).orderBy("id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("payload")))
    assert(got.toSeq == Seq(
      (1L, "a-v2"), (2L, "b-v1"), (3L, "c-v1"), (4L, "d-v1"), (9L, "new-v2")))
    val after = new File(s"$root/part=p3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == untouchedFiles, "untouched partition files must not be rewritten")
  }

  test("stale update (lower version) does not clobber the newer row") {
    val root = tmpDir("merge") + "/t"
    table(root)
    MergeByKey.merge(spark, root,
      Seq((1L, "p1", 5L, "a-v5")).toDF("id", "part", "version", "payload"),
      Seq("id"), Seq("part"), "version")
    MergeByKey.merge(spark, root,
      Seq((1L, "p1", 3L, "a-v3-late")).toDF("id", "part", "version", "payload"),
      Seq("id"), Seq("part"), "version")
    val payload = spark.read.parquet(root).filter($"id" === 1L).head.getAs[String]("payload")
    assert(payload == "a-v5", "late-arriving stale update must lose to the newer version")
  }

  test("merge into a null partition does not erase its existing rows") {
    val root = tmpDir("merge") + "/t"
    Seq((5L, Option.empty[String], 1L, "n1"), (6L, Option.empty[String], 1L, "n2"),
      (7L, Some("p1"), 1L, "x"))
      .toDF("id", "part", "version", "payload")
      .write.partitionBy("part").parquet(root)
    MergeByKey.merge(spark, root,
      Seq((9L, Option.empty[String], 2L, "n-new")).toDF("id", "part", "version", "payload"),
      Seq("id"), Seq("part"), "version")
    val ids = spark.read.parquet(root).collect().map(_.getAs[Long]("id")).sorted
    assert(ids.toSeq == Seq(5L, 6L, 7L, 9L),
      "existing null-partition rows must survive a merge into that partition")
  }

  test("a failing updates-write leaves no staging directory behind") {
    val root = tmpDir("merge_crash") + "/t"
    table(root)
    // evaluation of this updates lineage throws when the staging write
    // runs it — the merge fails before touching any live file
    val poison = Seq((1L, "p1", 2L, "a-v2")).toDF("id", "part", "version", "payload")
      .withColumn("payload", raise_error(lit("boom")).cast("string"))
    intercept[Exception] {
      MergeByKey.merge(spark, root, poison, Seq("id"), Seq("part"), "version")
    }
    val leaked = new File(root).getParentFile.listFiles()
      .filter(_.getName.contains(".updates-"))
    assert(leaked.isEmpty,
      s"failed staging write leaked: ${leaked.map(_.getName).mkString(", ")}")
    // the table itself is untouched
    assert(spark.read.parquet(root).count() == 4)
  }

  test("reserved column names are rejected") {
    val root = tmpDir("merge") + "/t"
    val bad = Seq((1L, "p1", 1L, 0)).toDF("id", "part", "version", "_src")
    intercept[IllegalArgumentException] {
      MergeByKey.merge(spark, root, bad, Seq("id"), Seq("part"), "version")
    }
  }

  test("merge into a missing table creates it") {
    val root = tmpDir("merge") + "/fresh"
    val n = MergeByKey.merge(spark, root,
      Seq((1L, "p1", 1L, "x")).toDF("id", "part", "version", "payload"),
      Seq("id"), Seq("part"), "version")
    assert(n == 1)
    assert(spark.read.parquet(root).count() == 1)
  }

  test("a zero-padded string partition is merged into its own directory") {
    val root = tmpDir("merge_pad") + "/t"
    Seq((1L, "007", "a"), (2L, "010", "b")).toDF("id", "region", "payload")
      .write.partitionBy("region").parquet(root)
    val n = MergeByKey.merge(spark, root, Seq((3L, "007", "c")).toDF("id", "region", "payload"),
      Seq("id"), Seq("region"), "")
    assert(n == 1)
    assert(new File(root).list().filter(_.startsWith("region=")).sorted.toSeq ==
      Seq("region=007", "region=010"))
    val got = spark.read.schema("id LONG, payload STRING, region STRING").parquet(root)
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a", "007"), (2L, "b", "010"), (3L, "c", "007")))
  }

  test("updates whose columns differ from the table's fail before any file moves") {
    val root = tmpDir("merge_cols") + "/t"
    table(root)
    val before = snapshot(root)
    // a table column the updates lack, merged into an existing partition
    intercept[Exception] {
      MergeByKey.merge(spark, root, Seq((1L, "p1", 2L)).toDF("id", "part", "version"),
        Seq("id"), Seq("part"), "version")
    }
    assert(snapshot(root) == before)
    // an updates column the table lacks, merged into a new partition
    intercept[Exception] {
      MergeByKey.merge(spark, root,
        Seq((9L, "p9", 1L, "x", 0)).toDF("id", "part", "version", "payload", "extra"),
        Seq("id"), Seq("part"), "version")
    }
    assert(snapshot(root) == before)
  }

  test("partition columns that miss the table's directory depth fail before any file moves") {
    val deep = tmpDir("merge_depth") + "/t"
    Seq((1L, "p1", "s1", "a"), (2L, "p1", "s2", "b")).toDF("id", "part", "sub", "payload")
      .write.partitionBy("part", "sub").parquet(deep)
    val deepBefore = snapshot(deep)
    // fewer partition columns than levels: part=p1 holds only sub=* directories
    intercept[IllegalArgumentException] {
      MergeByKey.merge(spark, deep, Seq((3L, "p1", "c")).toDF("id", "part", "payload"),
        Seq("id"), Seq("part"), "")
    }
    assert(snapshot(deep) == deepBefore)
    // more partition columns than levels: part=p1 holds the data files
    val shallow = tmpDir("merge_depth") + "/t"
    table(shallow)
    val shallowBefore = snapshot(shallow)
    intercept[IllegalArgumentException] {
      MergeByKey.merge(spark, shallow,
        Seq((1L, "p1", 2L, "s1", "a-v2")).toDF("id", "part", "version", "sub", "payload"),
        Seq("id"), Seq("part", "sub"), "version")
    }
    assert(snapshot(shallow) == shallowBefore)
  }

  test("a merge touching 2 of 64 partitions: no listing job, at most 5 jobs") {
    val root = tmpDir("merge_jobs") + "/t"
    (0 until 64).map(i => (i.toLong, f"p$i%02d", 1L, "v1")).toDF("id", "part", "version", "payload")
      .write.partitionBy("part").parquet(root)
    val updates = Seq((1L, "p01", 2L, "v2"), (100L, "p02", 1L, "new"))
      .toDF("id", "part", "version", "payload")
    val jobs = jobsOf {
      assert(MergeByKey.merge(spark, root, updates, Seq("id"), Seq("part"), "version") == 2)
    }
    assert(jobs.count(_.startsWith("Listing leaf files")) == 0, jobs.mkString("\n"))
    assert(jobs.size <= 5, jobs.mkString("\n"))
    assert(spark.read.parquet(root).count() == 65)
  }
}
