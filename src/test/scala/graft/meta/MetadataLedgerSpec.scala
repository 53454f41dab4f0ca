package graft.meta

import java.io.File
import java.sql.{Date, Timestamp}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import org.apache.spark.sql.Row

import graft.SparkFunSuite
import graft.pipeline.Schemas

class MetadataLedgerSpec extends SparkFunSuite {

  private def key(city: String, date: String) =
    Row(city, Option(date).map(Date.valueOf).orNull)

  private def cities(p: String): Seq[String] =
    MetadataLedger.read(spark, p).map(_.getString(1)).sorted

  /** The ledger's visible data files. */
  private def visible(p: String): Seq[File] =
    new File(p).listFiles.toSeq.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** Runs `body` with `hook` as the ledger's step hook. */
  private def withHook[T](hook: String => Unit)(body: => T): T = {
    MetadataLedger.onStepForTest = hook
    try body finally MetadataLedger.onStepForTest = _ => ()
  }

  private def crashAt(step: String): String => Unit =
    s => if (s == step) throw new IllegalStateException(s"crash at $s")

  test("ensure is idempotent and creates an empty ledger") {
    val p = tmpDir("ml") + "/meta"
    assert(MetadataLedger.read(spark, p).isEmpty, "a missing ledger is empty")
    MetadataLedger.ensure(spark, p)
    MetadataLedger.ensure(spark, p)
    assert(new File(p).isDirectory && visible(p).isEmpty)
    assert(MetadataLedger.read(spark, p).isEmpty)
  }

  test("upsert keeps exactly one row per (layer, city, date), newest wins") {
    val p = tmpDir("ml") + "/meta"
    MetadataLedger.ensure(spark, p)
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Delhi", "2026-02-13")))
    val t1 = MetadataLedger.read(spark, p).head.getTimestamp(3)
    MetadataLedger.upsert(spark, p, "silver", Seq(
      key("Delhi", "2026-02-13"), // replaces
      key("London", "2026-02-13"))) // new
    val rows = MetadataLedger.read(spark, p)
    assert(rows.size == 2 && cities(p) == Seq("Delhi", "London"))
    val t2 = rows.find(_.getString(1) == "Delhi").get.getTimestamp(3)
    assert(!t2.before(t1), "replacement must carry the newer processed_at")
    assert(visible(p).size == 1, "each upsert leaves one data file")
  }

  test("merge: the newest processed_at wins, a null stamp is the oldest") {
    val (t1, t2) = (Timestamp.valueOf("2026-02-13 09:00:00"), Timestamp.valueOf("2026-02-13 10:00:00"))
    def row(city: String, t: Timestamp, layer: String = "silver") = Row(layer, city, null, t)
    val merged = MetadataLedger.merge(
      Seq(row("Delhi", t2), row("London", t1), row("Rome", null), row("Oslo", t1)),
      Seq(row("Delhi", t1), row("London", t2), row("Rome", t1), row("Oslo", t1, "gold")))
    assert(merged.toSet == Set(row("Delhi", t2), row("London", t2), row("Rome", t1),
      row("Oslo", t1), row("Oslo", t1, "gold")), "the layer is part of the key")
  }

  test("the ledger reads back through Spark as Schemas.metadata, null keys included") {
    val p = tmpDir("ml") + "/meta"
    val keys = Seq(key("Delhi", "2026-02-13"), key(null, "2026-02-13"), key("Delhi", null))
    MetadataLedger.upsert(spark, p, "gold", keys)
    val viaSpark = spark.read.parquet(p)
    assert(viaSpark.schema == Schemas.metadata)
    assert(viaSpark.collect().toSet == MetadataLedger.read(spark, p).toSet)
    assert(MetadataLedger.processed(spark, p, "gold") == keys.toSet)
    assert(MetadataLedger.processed(spark, p, "silver").isEmpty)
  }

  test("a ledger file written by Spark itself is read and folded in") {
    val p = tmpDir("ml") + "/meta"
    val stamp = Timestamp.valueOf("2026-02-13 09:30:00.123456")
    spark.createDataFrame(java.util.List.of(Row("silver", "Delhi", Date.valueOf("2026-02-13"), stamp)),
      Schemas.metadata).coalesce(1).write.parquet(p)
    assert(MetadataLedger.read(spark, p) == Seq(Row("silver", "Delhi", Date.valueOf("2026-02-13"), stamp)))
    MetadataLedger.upsert(spark, p, "silver", Seq(key("London", "2026-02-13")))
    assert(cities(p) == Seq("Delhi", "London") && visible(p).size == 1)
  }

  test("crash before the rename: the stray hidden file is ignored") {
    val p = tmpDir("mlcrash") + "/meta"
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Delhi", "2026-02-13")))
    val e = intercept[IllegalStateException] {
      withHook(crashAt("written"))(MetadataLedger.upsert(spark, p, "silver", Seq(key("London", "2026-02-13"))))
    }
    assert(e.getMessage == "crash at written")
    assert(new File(p).list().exists(_.startsWith("_part-")), "the crashed write is left hidden")
    assert(cities(p) == Seq("Delhi"))
    assert(spark.read.parquet(p).count() == 1, "Spark ignores the hidden file too")
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Paris", "2026-02-13")))
    assert(cities(p) == Seq("Delhi", "Paris") && visible(p).size == 1)
  }

  test("crash before the delete: two visible files merge, and the next upsert leaves one") {
    val p = tmpDir("mlcrash") + "/meta"
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Delhi", "2026-02-13")))
    intercept[IllegalStateException] {
      withHook(crashAt("published"))(MetadataLedger.upsert(spark, p, "silver",
        Seq(key("Delhi", "2026-02-13"), key("London", "2026-02-13"))))
    }
    assert(visible(p).size == 2, "the merged-from file outlives the crash")
    assert(cities(p) == Seq("Delhi", "London"), "one row per key across both files")
    assert(spark.read.parquet(p).count() == 3, "a Spark reader sees Delhi once per file until the next upsert")
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Paris", "2026-02-13")))
    assert(visible(p).size == 1)
    assert(cities(p) == Seq("Delhi", "London", "Paris"))
    assert(spark.read.parquet(p).count() == 3)
  }

  test("a whole second upsert between listing and reading: both writers' rows survive") {
    val p = tmpDir("mlrace") + "/meta"
    MetadataLedger.upsert(spark, p, "silver", Seq(key("Delhi", "2026-02-13")))
    var listings = 0
    withHook { step =>
      if (step == "listed") {
        listings += 1
        // the second writer publishes and deletes the file the first one listed
        if (listings == 1) MetadataLedger.upsert(spark, p, "silver", Seq(key("London", "2026-02-13")))
      }
    }(MetadataLedger.upsert(spark, p, "silver", Seq(key("Paris", "2026-02-13"))))
    assert(listings == 3, "the first writer lists again after its listed file vanished")
    assert(cities(p) == Seq("Delhi", "London", "Paris"))
    assert(visible(p).size == 1)
  }

  test("four writers racing: every upsert succeeds and no row is lost") {
    (1 to 10).foreach { round =>
      val p = tmpDir("mlrace") + "/meta"
      MetadataLedger.upsert(spark, p, "silver", Seq(key("Base", "2026-02-13")))
      val writers = Seq("Delhi", "London", "Paris", "Tokyo")
      val gate = new CountDownLatch(1)
      val failures = new ConcurrentHashMap[String, Throwable]()
      def thread(name: String)(body: => Unit) = new Thread(() => {
        gate.await()
        try body catch { case e: Throwable => failures.put(name, e) }
      })
      val threads = writers.map(city =>
        thread(city)(MetadataLedger.upsert(spark, p, "silver", Seq(key(city, "2026-02-13"))))) :+
        // a reader in the middle of the race must still see the committed row
        thread("reader")((1 to 5).foreach(_ => assert(cities(p).contains("Base"), cities(p))))
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(failures.isEmpty, s"round $round: $failures")
      assert(cities(p) == ("Base" +: writers).sorted, s"round $round: lost update")
    }
  }

  test("property: upsert result always equals brute-force set-of-keys, one row each") {
    val rnd = new scala.util.Random(42)
    def randomBatch(): Seq[(String, String, String)] =
      Seq.fill(1 + rnd.nextInt(6))((
        if (rnd.nextBoolean()) "silver" else "gold",
        ("A" + ('A' + rnd.nextInt(3)).toChar),
        f"2026-02-0${1 + rnd.nextInt(3)}"))
    (1 to 5).foreach { _ =>
      val p = tmpDir("mlp") + "/meta"
      MetadataLedger.ensure(spark, p)
      val batches = Seq.fill(2)(randomBatch())
      for (b <- batches; (layer, keys) <- b.groupBy(_._1))
        MetadataLedger.upsert(spark, p, layer, keys.map { case (_, c, d) => key(c, d) })
      val expectKeys = batches.flatten.toSet
      val got = MetadataLedger.read(spark, p)
      assert(got.map(r => (r.getString(0), r.getString(1), r.getDate(2).toString)).toSet == expectKeys)
      assert(got.size == expectKeys.size)
    }
  }
}
