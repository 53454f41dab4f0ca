package medbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._

import graft.pipeline.Ingestion

/** Fake transport with a fixed latency: the Open-Meteo body of `day`. */
final class FakeFetcher(gen: Gen, day: Int, latencyMs: Long) extends Ingestion.Fetcher {
  def fetch(city: Ingestion.City): String = {
    if (latencyMs > 0) Thread.sleep(latencyMs)
    gen.fetchBody(city, day)
  }
}

/** Counts what `Ingestion.fetchAll` asks of its transport: calls, calls that
  * threw, repeated calls for a city (retries) and the most calls in flight
  * at once. */
final class CountingFetcher(inner: Ingestion.Fetcher) extends Ingestion.Fetcher {
  private val inflight = new AtomicInteger
  private val maxInflight = new AtomicInteger
  private val calls = new AtomicLong
  private val failed = new AtomicLong
  private val perCity = new ConcurrentHashMap[String, Integer]

  def fetch(city: Ingestion.City): String = {
    calls.incrementAndGet()
    perCity.merge(city.name, 1, (a: Integer, b: Integer) => a + b)
    maxInflight.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try inner.fetch(city)
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
    finally inflight.decrementAndGet()
  }

  def fetches: Long = calls.get
  def failures: Long = failed.get
  def retries: Long = calls.get - perCity.size
  def inflightMax: Int = maxInflight.get
}

/** Spark work done by one job, summed over its tasks. */
final class JobRec(val id: Int, val span: String, val description: String,
                   val callSite: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var rowsRead = 0L
  var bytesRead = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L

  def seconds: Double = (endMs - startMs) / 1000.0
  def isListing: Boolean = description.startsWith("Listing leaf files and directories")
  def isLedger: Boolean = callSite.contains("MetadataLedger.scala")
}

/** Attributes Spark jobs, stages and task metrics to the span that launched
  * them: the benchmark sets the `SpanProperty` local property on the calling
  * thread, and Spark copies a thread's local properties into every job it
  * submits. Events arrive on Spark's listener thread; read `jobs` only after
  * the SparkContext has stopped, which drains the event queue. */
final class JobProbe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // a job's call site is its final stage's `details` (the user-code stack)
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val rec = new JobRec(e.jobId, prop(JobProbe.SpanProperty), prop("spark.job.description"),
      callSite, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      rec.rowsRead += m.inputMetrics.recordsRead
      rec.bytesRead += m.inputMetrics.bytesRead
      rec.rowsWritten += m.outputMetrics.recordsWritten
      rec.bytesWritten += m.outputMetrics.bytesWritten
    }
}

object JobProbe {
  val SpanProperty = "medbench.span"
}
