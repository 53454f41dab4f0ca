package medbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed interval: an op (parent -1) or a layer call inside one. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around calls the benchmark makes. While a span
  * is open its id is the calling thread's [[JobProbe.SpanProperty]], so
  * every Spark job the call submits is attributed to it. A tracer with
  * `sc = None` records nothing and only runs the calls: the timed runs use
  * it, so they carry no tracing cost. */
final class Tracer(sc: Option[SparkContext]) {
  val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def on: Boolean = sc.isDefined

  def span[A](op: Int, name: String)(f: => A): A = sc match {
    case None => f
    case Some(ctx) =>
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), op, name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      val prev = ctx.getLocalProperty(JobProbe.SpanProperty)
      ctx.setLocalProperty(JobProbe.SpanProperty, s.id.toString)
      open = s :: open
      try f
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        ctx.setLocalProperty(JobProbe.SpanProperty, prev)
      }
  }

  /** Spans of op `op`: the op span first, then its layer calls in order. */
  def ofOp(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  /** Time of `s` not covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  val off = new Tracer(None)
}
