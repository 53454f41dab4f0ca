package graft.meta

import java.sql.Date
import org.apache.spark.sql.functions._

import graft.SparkFunSuite

class MetadataLedgerSpec extends SparkFunSuite {
  import spark.implicits._

  private def entries(rows: (String, String, String)*) =
    rows.map { case (l, c, d) => (l, c, Date.valueOf(d)) }
      .toDF("layer", "city", "date")

  test("ensure is idempotent and creates an empty ledger") {
    val p = tmpDir("ml") + "/meta"
    MetadataLedger.ensure(spark, p)
    MetadataLedger.ensure(spark, p)
    val df = MetadataLedger.read(spark, p)
    assert(df.count() == 0)
    assert(df.schema.fieldNames.toSeq == Seq("layer", "city", "date", "processed_at"))
  }

  test("upsert keeps exactly one row per (layer, city, date), newest wins") {
    val p = tmpDir("ml") + "/meta"
    MetadataLedger.ensure(spark, p)
    MetadataLedger.upsert(spark, p, entries(("silver", "Delhi", "2026-02-13")))
    val t1 = MetadataLedger.read(spark, p)
      .filter($"city" === "Delhi").head.getAs[java.sql.Timestamp]("processed_at")
    Thread.sleep(5)
    MetadataLedger.upsert(spark, p, entries(
      ("silver", "Delhi", "2026-02-13"), // replaces
      ("silver", "London", "2026-02-13"))) // new
    val df = MetadataLedger.read(spark, p)
    assert(df.count() == 2)
    val t2 = df.filter($"city" === "Delhi").head.getAs[java.sql.Timestamp]("processed_at")
    assert(!t2.before(t1), "replacement must carry the newer processed_at")
  }

  test("concurrent upsert fails loudly while the lease is held; stale lease breaks") {
    val p = tmpDir("mllock") + "/meta"
    MetadataLedger.ensure(spark, p)
    // simulate a concurrent writer mid-upsert: its lease file exists
    val lock = new java.io.File(p + "._lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      MetadataLedger.upsert(spark, p, entries(("silver", "Delhi", "2026-02-13")))
    }
    assert(e.getMessage.contains("locked by a concurrent upsert"))
    assert(MetadataLedger.read(spark, p).count() == 0,
      "the blocked writer must not have touched the ledger")
    // a crashed holder's stale lease is broken and the upsert proceeds
    assert(lock.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    MetadataLedger.upsert(spark, p, entries(("silver", "Delhi", "2026-02-13")))
    assert(MetadataLedger.read(spark, p).count() == 1)
    assert(!lock.exists(), "lease must be released after the swap")
    // the lease also releases on failure inside the upsert body
    intercept[Exception] {
      MetadataLedger.upsert(spark, p,
        Seq(1).toDF("not_the_schema")) // analysis error mid-body
    }
    assert(!lock.exists(), "lease must be released on upsert failure")
    MetadataLedger.upsert(spark, p, entries(("gold", "Delhi", "2026-02-13")))
    assert(MetadataLedger.read(spark, p).count() == 2)
  }

  test("two writers racing to break the same stale lease: no lost update") {
    // The break is an atomic rename of the observed lease, so of two
    // simultaneous breakers exactly one wins the rename; the loser fails
    // loudly instead of deleting the winner's fresh lease. The anomaly this
    // pins: with a blind delete-then-create break, BOTH writers proceed and
    // the later swap silently drops the earlier writer's rows.
    (1 to 3).foreach { round =>
      val p = tmpDir("mlrace") + "/meta"
      MetadataLedger.ensure(spark, p)
      val lock = new java.io.File(p + "._lock")
      assert(lock.createNewFile())
      assert(lock.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      val threads = Seq("Delhi", "London").map { city =>
        new Thread(() => {
          gate.await()
          try {
            MetadataLedger.upsert(spark, p, entries(("silver", city, "2026-02-13")))
            outcomes.put(city, true)
          } catch { case _: Exception => outcomes.put(city, false) }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      val winners = Seq("Delhi", "London").filter(outcomes.get(_))
      assert(winners.nonEmpty, s"round $round: at least one breaker must acquire")
      val got = MetadataLedger.read(spark, p).select("city").as[String].collect().toSet
      winners.foreach { c =>
        assert(got.contains(c),
          s"round $round: writer $c reported success but its row is missing — lost update")
      }
      assert(!lock.exists(), s"round $round: lease must be released")
    }
  }

  test("breaker that loses the stat-rename race must not steal a fresh lease") {
    // Deterministic replay of the interleaving the threaded race test can
    // only hit probabilistically: writer B observes a STALE lease, then —
    // before B's rename — writer A breaks it and acquires a FRESH lease.
    // B's rename now grabs A's lease; the token check must detect the
    // theft, restore A's lease untouched, and fail B loudly. (Without the
    // check both writers proceed and the later swap drops the earlier
    // writer's rows — the lost update the r16 driver run caught.)
    val p = tmpDir("mlsteal") + "/meta"
    MetadataLedger.ensure(spark, p)
    val lock = new java.io.File(p + "._lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    val freshToken = "fresh-holder-token"
    MetadataLedger.onStaleObservedForTest = () => {
      // simulate the concurrent winner: stale lease replaced by a fresh one
      assert(lock.delete())
      java.nio.file.Files.write(lock.toPath,
        freshToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    try {
      val e = intercept[IllegalStateException] {
        MetadataLedger.upsert(spark, p, entries(("silver", "Delhi", "2026-02-13")))
      }
      assert(e.getMessage.contains("fresh lease"))
    } finally MetadataLedger.onStaleObservedForTest = () => ()
    assert(lock.exists(), "the stolen fresh lease must be restored")
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath),
      java.nio.charset.StandardCharsets.UTF_8) == freshToken,
      "the restored lease must carry the displaced holder's token")
    assert(MetadataLedger.read(spark, p).count() == 0,
      "the failed breaker must not have touched the ledger")
    lock.delete()
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
      batches.foreach(b => MetadataLedger.upsert(spark, p, entries(b: _*)))
      val expectKeys = batches.flatten.toSet
      val got = MetadataLedger.read(spark, p).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDate(2).toString)).toSet
      assert(got == expectKeys)
      assert(MetadataLedger.read(spark, p).count() == expectKeys.size)
    }
  }
}
