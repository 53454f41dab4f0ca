package medbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.core.GraftSession
import graft.pipeline.Pipeline

/** Medallion-pipeline benchmark: one workload, one seed, a closed loop of
  * ops for a fixed time, every op's output checked.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`
  *
  * The last line of standard output is one JSON object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. The traced run
  * alternates rounds of traced and untraced ops, reports the ratio of their
  * medians as the tracing overhead, and writes its spans and jobs to
  * `<out>/trace-<workload>-<seed>.jsonl`. `<work>` holds the lakes. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    require(Workload.names.contains(name), s"unknown workload $name; one of ${Workload.names.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val out = new File(opts("out")).getAbsoluteFile
    work.mkdirs()
    val status = try run(name, seed, seconds, trace, work, out) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.exit(status)
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: File, out: File): Int = {
    val t0 = System.nanoTime()
    Memory.watch()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    val w = Workload(name, spark, Gen(seed), new File(work, "lake"))
    val tb = System.nanoTime()
    w.build()
    val buildS = secondsSince(tb)
    val tw = System.nanoTime()
    w.warmUp()
    val warmS = secondsSince(tw)
    val setupS = sessionS + buildS + warmS
    System.err.println(f"[medbench] set-up: session $sessionS%.2f s, build $buildS%.2f s, warm-up $warmS%.2f s")

    val probe = new JobProbe
    val tracer = new Tracer(if (trace) Some(spark.sparkContext) else None)
    if (trace) spark.sparkContext.addSparkListener(probe)

    val ops = ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var lakeBytes, lakeRows = 0L
    while (System.nanoTime() < deadline || ops.size % w.round != 0) {
      val i = ops.size
      // traced and untraced rounds alternate, so both see the same mix of ops
      val t = if (trace && i / w.round % 2 == 0) tracer else Tracer.off
      val start = System.nanoTime()
      val res = try Some(t.span(i, "op")(tagUntraced(spark, trace && !t.on, i)(w.op(i, t)))) catch {
        case NonFatal(e) => System.err.println(s"[medbench] op $i failed: $e"); None
      }
      val ms = (System.nanoTime() - start) / 1e6
      val ok = res.exists { o =>
        try w.verify(i, o) catch { case NonFatal(e) => System.err.println(s"[medbench] check $i: $e"); false }
      }
      if (res.isDefined && !ok) System.err.println(s"[medbench] op $i failed its output check")
      lakeBytes = Layout.bytes(w.lake); lakeRows = w.bronzeRows
      val inspected = if (t.on && res.isDefined) Layout.inspect(spark, w.lake, tracer.ofOp(i)) else Map.empty[String, Double]
      ops += OpRec(i, t.on, ms, ok, res, inspected)
      w.afterOp(i)
    }
    val late = try w.finish() catch { case NonFatal(e) => System.err.println(s"[medbench] final check: $e"); ops.indices.toSet }
    val failed = ops.count(o => !o.ok || late.contains(o.i))
    spark.stop() // drains the listener queue before the probe is read

    var drifted = false
    val good = ops.filter(o => o.ok && !late.contains(o.i))
    val untraced = (if (good.nonEmpty) good else ops).filterNot(_.traced)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_ms", roundMs(untraced, w.round), "ms"),
        ("lake_bytes_per_row", lakeBytes.toDouble / math.max(1L, lakeRows), "B/row"),
        ("mem_peak_mb", Memory.peakMb, "MB"))
      else {
        val traced = (if (good.nonEmpty) good else ops).filter(_.traced)
        val lm = new LayerMetrics(tracer, probe)
        val layer = lm.report(traced.toSeq)
        writeTrace(out, name, seed, tracer, probe)
        // Traced daily ops copy Pipeline.run's layer calls; untraced ones call
        // it. Equal job counts show the copy still does what Pipeline.run does.
        val (tj, uj) = (median(traced.map(lm.jobs(_).toDouble)), median(untraced.map(lm.jobs(_).toDouble)))
        if (traced.nonEmpty && untraced.nonEmpty && tj != uj) {
          drifted = true
          System.err.println(s"[medbench] ERROR: traced ops ran a median of $tj Spark jobs, untraced ops $uj: " +
            "the traced layer calls no longer match the program's orchestration")
        }
        layer ++ Seq(
          ("jvm.rss_peak_mb", Memory.rssPeakMb, "MB"),
          ("trace.ops", traced.size.toDouble, "count"),
          ("trace.op_ms", roundMs(traced, w.round), "ms"),
          ("trace.overhead_frac",
            if (untraced.isEmpty || traced.isEmpty) 0.0
            else roundMs(traced, w.round) / roundMs(untraced, w.round) - 1, "ratio"))
      }

    val failedFrac = failed.toDouble / math.max(1, ops.size)
    System.err.println(f"[medbench] $name seed=$seed ops=${ops.size} failed=$failed failed_frac=$failedFrac%.4f")
    metrics.foreach { case (k, v, u) => System.err.println(s"[medbench]   $k = $v $u") }
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0 && ops.nonEmpty && !drifted}, "attempted": ${ops.size}, "failed": $failed, "metrics": {$body}}""")
    0
  }

  /** Span property of an untraced op in a traced run. */
  def untracedTag(i: Int): String = s"untraced-$i"

  /** Runs `f` with its Spark jobs tagged as untraced op `i`'s when `on`. */
  private def tagUntraced[A](spark: org.apache.spark.sql.SparkSession, on: Boolean, i: Int)(f: => A): A =
    if (!on) f
    else {
      spark.sparkContext.setLocalProperty(JobProbe.SpanProperty, untracedTag(i))
      try f finally spark.sparkContext.setLocalProperty(JobProbe.SpanProperty, null)
    }

  final case class OpRec(i: Int, traced: Boolean, ms: Double, ok: Boolean, out: Option[OpOut],
                         inspected: Map[String, Double])

  /** One JSON line per span, then one per job the probe saw. */
  private def writeTrace(out: File, name: String, seed: Long, tracer: Tracer, probe: JobProbe): Unit = {
    out.mkdirs()
    val pw = new PrintWriter(new File(out, s"trace-$name-$seed.jsonl"))
    try {
      val t0 = tracer.spans.headOption.fold(0L)(_.startNs)
      val bySpan = probe.jobs.values.groupBy(_.span)
      tracer.spans.foreach { s =>
        val jobs = bySpan.getOrElse(s.id.toString, Nil)
        pw.println(s"""{"span": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${str(s.name)}, """ +
          s""""start_ms": ${num((s.startNs - t0) / 1e6)}, "dur_ms": ${num(s.seconds * 1000)}, """ +
          s""""self_ms": ${num(tracer.selfSeconds(s) * 1000)}, "jobs": ${jobs.size}, """ +
          s""""listing_jobs": ${jobs.count(_.isListing)}, "tasks": ${jobs.map(_.tasks).sum}}""")
      }
      probe.jobs.values.foreach { j =>
        pw.println(s"""{"job": ${j.id}, "span": ${str(j.span)}, "dur_ms": ${j.endMs - j.startMs}, """ +
          s""""stages": ${j.stages}, "tasks": ${j.tasks}, "description": ${str(j.description)}, """ +
          s""""call_site": ${str(j.callSite.linesIterator.take(4).mkString(" | "))}}""")
      }
    } finally pw.close()
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** Median over rounds of the mean op time in a round. Every round holds the
    * same mix of ops, so this does not jump between the op kinds' times as
    * the median op of a mixed run does. */
  def roundMs(ops: Iterable[OpRec], round: Int): Double =
    median(ops.groupBy(_.i / round).values.map(r => r.map(_.ms).sum / r.size))

  /** Median (the mean of the middle two for an even count); 0 for no samples. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Per-layer metrics of the traced ops, from their spans and the jobs the
  * probe attributed to them: the median over ops of each op's value. */
final class LayerMetrics(tracer: Tracer, probe: JobProbe) {
  private val bySpan = probe.jobs.values.groupBy(_.span)

  def report(ops: Seq[Main.OpRec]): Seq[(String, Double, String)] = {
    val perOp = ops.map(of)
    LayerMetrics.units.map { case (k, u) =>
      (k, Main.median(perOp.map(_.getOrElse(k, 0.0))), u)
    }
  }

  /** Spark jobs op `o` submitted: those of its spans, or of its untraced tag. */
  def jobs(o: Main.OpRec): Int =
    if (o.traced) tracer.ofOp(o.i).map(s => bySpan.getOrElse(s.id.toString, Nil).size).sum
    else bySpan.getOrElse(Main.untracedTag(o.i), Nil).size

  private def of(o: Main.OpRec): Map[String, Double] = {
    val spans = tracer.ofOp(o.i)
    val jobsIn = (s: Seq[Span]) => s.flatMap(x => bySpan.getOrElse(x.id.toString, Nil))
    val all = jobsIn(spans)
    val m = mutable.Map.empty[String, Double]
    m("spark.jobs") = all.size
    m("spark.stages") = all.map(_.stages).sum
    m("spark.tasks") = all.map(_.tasks).sum
    m("spark.task_s") = all.map(_.taskMs).sum / 1000.0
    m("spark.gc_s") = all.map(_.gcMs).sum / 1000.0
    m("lake.listing_jobs") = all.count(_.isListing)
    m("lake.listing_s") = all.filter(_.isListing).map(_.seconds).sum
    m("ledger.jobs") = all.count(_.isLedger)
    m("ledger.job_s") = all.filter(_.isLedger).map(_.seconds).sum
    spans.headOption.foreach(op => m("trace.unattributed_frac") = tracer.selfSeconds(op) / op.seconds)
    for (layer <- Seq("bronze", "silver", "gold"); s <- spans.find(_.name == layer)) {
      val js = jobsIn(Seq(s))
      m(s"$layer.busy_s") = s.seconds
      m(s"$layer.jobs") = js.size
      m(s"$layer.task_s") = js.map(_.taskMs).sum / 1000.0
      m(s"$layer.rows_read") = js.map(_.rowsRead).sum
      m(s"$layer.rows_written") = js.map(_.rowsWritten).sum
      m(s"$layer.bytes_written") = js.map(_.bytesWritten).sum
      m(s"$layer.shuffle_bytes") = js.map(_.shuffleBytes).sum
    }
    for (out <- o.out) {
      out.parts.foreach { case (layer, n) => m(s"$layer.partitions") = n }
      out.fetcher.foreach { f =>
        m("ingestion.fetches") = f.fetches
        m("ingestion.retries") = f.retries
        m("ingestion.failures") = f.failures
        m("ingestion.inflight_max") = f.inflightMax
      }
    }
    spans.find(_.name == "ingestion").foreach(s => m("ingestion.busy_s") = s.seconds)
    for (r <- spans.find(_.name == "resolve"); e <- spans.find(_.name == "exec")) {
      val returned = o.out.fold(0L)(_.rows)
      m("read.resolve_ms") = r.seconds * 1000
      m("read.exec_ms") = e.seconds * 1000
      m("read.bytes_read") = all.map(_.bytesRead).sum
      m("read.rows_scanned_per_row_returned") = all.map(_.rowsRead).sum.toDouble / math.max(1L, returned)
    }
    m.toMap ++ o.inspected
  }
}

object LayerMetrics {
  private def layer(l: String) = Seq(
    s"$l.busy_s" -> "s", s"$l.partitions" -> "count", s"$l.rows_read" -> "count",
    s"$l.rows_written" -> "count", s"$l.files_written" -> "count", s"$l.bytes_written" -> "B",
    s"$l.shuffle_bytes" -> "B", s"$l.jobs" -> "count", s"$l.task_s" -> "s")

  /** Every per-layer metric, in report order, with its unit. */
  val units: Seq[(String, String)] =
    Seq("ingestion.busy_s" -> "s", "ingestion.fetches" -> "count", "ingestion.retries" -> "count",
      "ingestion.failures" -> "count", "ingestion.inflight_max" -> "count") ++
      layer("bronze") ++ layer("silver") ++ layer("gold") ++
      Seq("ledger.rows" -> "count", "ledger.files" -> "count", "ledger.bytes" -> "B",
        "ledger.jobs" -> "count", "ledger.job_s" -> "s",
        "lake.listing_jobs" -> "count", "lake.listing_s" -> "s") ++
      Seq("bronze", "silver", "gold").flatMap(l => Seq(s"lake.$l.partitions" -> "count", s"lake.$l.files" -> "count")) ++
      Seq("read.resolve_ms" -> "ms", "read.exec_ms" -> "ms", "read.bytes_read" -> "B",
        "read.rows_scanned_per_row_returned" -> "ratio",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_s" -> "s", "spark.gc_s" -> "s", "trace.unattributed_frac" -> "ratio")
}

/** On-disk shape of a lake, read from the local filesystem. */
object Layout {

  private def files(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(root))
  }

  private def isData(f: File) = f.getName.endsWith(".parquet")

  /** Bytes of every file under the bronze, silver, gold and ledger roots. */
  def bytes(c: Pipeline.Config): Long =
    Seq(c.bronzeRoot, c.silverRoot, c.goldRoot, c.metadataPath).flatMap(files).map(_.length).sum

  /** Files and partitions of each layer root, the ledger's size, and the
    * data files each layer's span wrote. */
  def inspect(spark: org.apache.spark.sql.SparkSession, c: Pipeline.Config, spans: Seq[Span]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    for ((layer, root) <- Seq("bronze" -> c.bronzeRoot, "silver" -> c.silverRoot, "gold" -> c.goldRoot)) {
      val data = files(root).filter(isData)
      m(s"lake.$layer.files") = data.size
      m(s"lake.$layer.partitions") = data.map(_.getParentFile.getPath).distinct.size
      spans.find(_.name == layer).foreach(s => m(s"$layer.files_written") = data.count(_.lastModified >= s.startMs))
    }
    val ledger = files(c.metadataPath)
    m("ledger.files") = ledger.count(isData)
    m("ledger.bytes") = ledger.map(_.length).sum
    m("ledger.rows") = spark.read.parquet(c.metadataPath).count()
    m.toMap
  }
}
