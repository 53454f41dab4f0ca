package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LocalLakeFileSystem

/** Shared session for all suites (one JVM-wide session; suites run forked).
  * It resolves `file:` paths to [[LocalLakeFileSystem]], as
  * `GraftSession.builder` does. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalLakeFileSystem.sparkConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val JobTag = "graft.test.jobs"

  /** Job descriptions of the Spark jobs `body` submits from this thread
    * (Spark's own listing jobs start with "Listing leaf files"). */
  def jobsOf(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag))).foreach {
          case "body" => seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
          case _ => drained.countDown()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(JobTag, "body")
      body
      // listener events arrive in order: once the marker job is seen, every
      // job of `body` has been counted
      sc.setLocalProperty(JobTag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener did not drain")
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}
