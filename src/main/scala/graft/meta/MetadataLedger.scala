package graft.meta

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Schemas
import graft.sources.ParquetLake

/** Processed-partition ledger: a tiny Parquet-backed table with logical
  * primary key (layer, city, date) and replace-on-conflict upsert.
  *
  * The reference gets PK semantics for free from DuckDB
  * (`INSERT OR REPLACE`, reference metadata.py:3-9, silver.py:57-60); on
  * plain Parquet the upsert reads the ledger, merges on the driver keeping
  * the newest `processed_at` per key, and swaps in the result as one file.
  * The ledger is partition-granularity metadata, so it stays small (one row
  * per (layer,city,date)) no matter how large the data lake grows —
  * driver-side collection of it is safe even at 100 TB data scale, and is
  * what the incremental diff ([[processed]]) and the merge both do.
  */
object MetadataLedger {

  /** Test-only interleaving hook: runs between a breaker OBSERVING a stale
    * lease and RENAMING it, the window in which a concurrent breaker can
    * replace the lease with a fresh one. Lets the spec pin the
    * stolen-fresh-lease defense deterministically instead of relying on
    * thread timing. No-op in production. */
  private[meta] var onStaleObservedForTest: () => Unit = () => ()

  /** Age past which a ledger lease is presumed left by a crashed holder and
    * broken. */
  private val staleLockMs = 10 * 60 * 1000L

  /** Create-if-missing (reference metadata.py:1-10 DDL). */
  def ensure(spark: SparkSession, path: String): Unit =
    if (!ParquetLake.exists(spark, path))
      ParquetLake.atomicReplace(
        spark,
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.metadata),
        path)

  /** Read the ledger. Missing-path is retried briefly before being treated
    * as empty: atomicReplace has a sub-ms window between its two renames
    * where the path doesn't exist, and mistaking that for an empty ledger
    * would make a concurrent writer wipe state. */
  def read(spark: SparkSession, path: String): DataFrame = {
    var attempt = 0
    while (attempt < 5 && !ParquetLake.exists(spark, path)) {
      Thread.sleep(20L << attempt)
      attempt += 1
    }
    ParquetLake.readOrEmpty(spark, path, Schemas.metadata)
  }

  /** PK-replace upsert: `entries` must have columns (layer, city, date);
    * `processed_at` is stamped here (reference silver.py:59 CURRENT_TIMESTAMP).
    * Per key the newest `processed_at` wins, and an incoming row wins a tie.
    *
    * SINGLE-WRITER BY CONTRACT, and loud about it: the upsert is
    * read-snapshot → merge → atomic swap, so two writers racing would
    * both read the old snapshot and the last swap would silently drop
    * the first writer's rows — the lost-update anomaly a plain-Parquet
    * ledger invites. A `<path>._lock` lease (atomic create-exclusive,
    * the HDFS/posix test-and-set) is taken before the read and released
    * after the swap; a second concurrent upsert FAILS with the holder's
    * age in the message instead of corrupting state. A lease older than
    * `staleLockMs` is presumed crashed and broken (one retry). The lock
    * is a SIBLING of the table root — a lease inside it would vanish
    * with the directory swap. */
  def upsert(spark: SparkSession, path: String, entries: DataFrame): Unit =
    withLease(spark, path) {
      merge(spark, path, entries.select("layer", "city", "date").collect().toSeq)
    }

  /** The (layer, city, date) entries of driver-side (city, date) keys, for
    * [[upsert]]: a local relation, so collecting it runs no Spark job. */
  def entries(spark: SparkSession, layer: String, partitions: Seq[Row]): DataFrame =
    spark.createDataFrame(partitions.asJava, Schemas.partition).withColumn("layer", lit(layer))

  /** Read-merge-swap under the lease: `entries` are (layer, city, date) rows. */
  private def merge(spark: SparkSession, path: String, entries: Seq[Row]): Unit = {
    val now = Timestamp.from(Instant.now().truncatedTo(ChronoUnit.MICROS))
    // by processed_at; a null stamp is the oldest
    val age = Ordering.by((r: Row) => Option(r.getTimestamp(3)).map(t => (t.getTime, t.getNanos)))
    // the current rows first, so an incoming row replaces an equal stamp
    val rows = read(spark, path).collect().iterator ++
      entries.iterator.map(e => Row(e.get(0), e.get(1), e.get(2), now))
    val merged = rows.foldLeft(Map.empty[Row, Row]) { (acc, r) =>
      val key = Row(r.get(0), r.get(1), r.get(2))
      if (acc.get(key).exists(age.lt(r, _))) acc else acc.updated(key, r)
    }
    ParquetLake.atomicReplace(spark,
      spark.createDataFrame(merged.values.toSeq.asJava, Schemas.metadata).coalesce(1), path)
  }

  /** Runs `body` holding the ledger's `<path>._lock` lease. */
  private def withLease(spark: SparkSession, path: String)(body: => Unit): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(path + "._lock")
    // Owner token written INTO the lease file: every destructive step
    // (stale break, final release) must prove it is acting on the exact
    // lease it observed/holds — a blind delete lets two stale-breakers
    // both proceed, or a timed-out holder delete its usurper's fresh lease.
    val token = java.util.UUID.randomUUID().toString
    // Create-exclusive must be ATOMIC test-and-set. HDFS-like filesystems
    // guarantee that for create(overwrite = false); Hadoop's LOCAL
    // filesystem does NOT — RawLocalFileSystem.create is an exists-check
    // followed by a plain open, so two writers landing in the break's
    // released-lease gap can BOTH "win" the lease and the later swap
    // silently drops the earlier writer's rows (caught by the threaded
    // race spec under load). For file:// paths go through NIO's
    // CREATE_NEW (O_EXCL — kernel-atomic); everything else keeps the
    // filesystem's native create(false).
    def tryAcquire(): Boolean = {
      val uri = lock.toUri
      if (uri.getScheme == null || uri.getScheme == "file")
        try {
          java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath),
            token.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.io.IOException => false } // incl. FileAlreadyExists
      else
        try {
          val out = hfs.create(lock, false)
          out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close(); true
        } catch { case _: java.io.IOException => false }
    }
    def readToken(p: org.apache.hadoop.fs.Path): Option[String] =
      try {
        val in = hfs.open(p)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          Some(new String(buf, 0, math.max(n, 0),
            java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      } catch { case _: java.io.IOException => None }
    def lockToken(): Option[String] = readToken(lock)
    if (!tryAcquire()) {
      // Identity of the lease being judged: the stat (age) and the token
      // are read BEFORE the break, and the break must later prove it
      // renamed exactly this lease — stat-then-rename alone is not atomic,
      // and in that window another breaker can have replaced the stale
      // lease with its own FRESH one (the two-breaker lost-update race the
      // r16 driver's loaded test run caught).
      val observed = lockToken()
      val age = try System.currentTimeMillis() -
        hfs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.IOException => 0L } // holder just released
      if (age > staleLockMs) {
        onStaleObservedForTest()
        // Break by atomic RENAME of the specific stale lease to a
        // breaker-unique tombstone: rename is test-and-set, so of N
        // simultaneous breakers exactly one wins; the losers see the
        // rename fail (lease gone) and must NOT touch the winner's
        // fresh lease — they fail loudly like any contender.
        val tombstone = new org.apache.hadoop.fs.Path(
          path + s"._lock.broken.$token")
        val won = try hfs.rename(lock, tombstone)
        catch { case _: java.io.IOException => false }
        // The tombstone is ours alone (breaker-unique name), so its content
        // can be examined race-free: if it does not carry the token we
        // OBSERVED as stale, the rename stole a fresh lease created after
        // our stat — put it back (its holder never noticed) and fail
        // loudly; proceeding here is exactly the lost-update anomaly.
        val brokeObserved = won && readToken(tombstone) == observed
        if (won && !brokeObserved) {
          val restored = try hfs.rename(tombstone, lock)
          catch { case _: java.io.IOException => false }
          if (!restored) hfs.delete(tombstone, false)
          throw new IllegalStateException(
            s"ledger $path: the stale lease was already broken and a fresh" +
              " lease taken by another writer; retry after it finishes")
        }
        if (brokeObserved) hfs.delete(tombstone, false)
        require(brokeObserved && tryAcquire(),
          s"ledger $path: another writer broke the stale lease first —" +
            " it now holds a fresh lease; retry after it finishes")
      } else throw new IllegalStateException(
        s"ledger $path is locked by a concurrent upsert (lease age ${age}ms" +
          s" <= ${staleLockMs}ms): the read-union-swap upsert is" +
          " single-writer — a second writer would silently drop this one's" +
          " rows. Retry after the holder finishes.")
    }
    try body
    finally {
      // Release ONLY our own lease: if this upsert outlived staleLockMs a
      // breaker may have replaced the lock with its fresh lease — deleting
      // that would re-open the lost-update window for a THIRD writer.
      if (lockToken().contains(token)) hfs.delete(lock, false)
    }
  }

  /** Partitions already processed for a layer, as driver-side (city, date)
    * rows (reference silver.py:15-20). */
  def processed(spark: SparkSession, path: String, layer: String): Set[Row] =
    read(spark, path).filter(col("layer") === layer).select("city", "date").collect().toSet
}
