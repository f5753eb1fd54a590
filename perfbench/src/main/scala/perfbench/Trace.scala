package perfbench

import scala.collection.mutable

/** One traced interval. `kind` is "call" for a harness call into the
  * engine's public API, "job" for a Spark job and "plan" for a query's
  * planning phases. Times are nanoseconds on the epoch clock so that
  * listener timestamps (epoch milliseconds) line up with them. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      kind: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time of every span: its attributed interval minus the part its
    * children cover. A child is clipped to its parent's attributed
    * interval and starts no earlier than the end of the sibling before it
    * (in start order), so siblings that overlap — concurrent Spark jobs of
    * one query — split the overlap in start order and every instant is
    * attributed to exactly one span. Hence the self times of a span and
    * of all its descendants add up to its wall time. Spans whose parent is
    * not among `spans` are roots. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val ids = spans.map(_.id).toSet
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[Int, Long]
    def visit(s: Span, from: Long, to: Long): Unit = {
      var cursor = from
      var covered = 0L
      children.getOrElse(s.id, Nil).sortBy(c => (c.startNs, c.id)).foreach { c =>
        val cs = math.min(math.max(c.startNs, cursor), to)
        val ce = math.max(math.min(c.endNs, to), cs)
        covered += ce - cs
        cursor = math.max(cursor, ce)
        visit(c, cs, ce)
      }
      out(s.id) = (to - from) - covered
    }
    spans.filterNot(s => ids.contains(s.parent)).foreach(r => visit(r, r.startNs, math.max(r.endNs, r.startNs)))
    out.toMap
  }

  /** All descendants of `root` (excluding it). */
  def descendants(spans: Seq[Span], root: Int): Seq[Span] = {
    val children = spans.groupBy(_.parent)
    def go(id: Int): Seq[Span] = children.getOrElse(id, Nil).flatMap(c => c +: go(c.id))
    go(root)
  }

  /** Length of the union of `intervals` clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var cursor = from
    var total = 0L
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        val cs = math.max(s, cursor)
        if (e > cs) { total += e - cs; cursor = e }
      }
    total
  }
}

/** Records harness-side call spans. Disabled, `span` just runs its body.
  * Enabled, it also publishes the span id as a Spark local property, so
  * every job the call submits carries it and the listener can attribute
  * the job to the call. Single-threaded, like the harness. */
final class Tracer(val runId: String) {
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var sc: Option[org.apache.spark.SparkContext] = None
  var enabled = false

  private def nowNs: Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)

  def bind(context: org.apache.spark.SparkContext): Unit = sc = Some(context)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.map(_.getLocalProperty(Tracer.SpanProperty))
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, prev.orNull))
        recorded += Span(id, parent, layer, name, "call", t0, t1)
      }
    }

  def calls: Seq[Span] = recorded.toSeq
}

object Tracer {
  /** Spark local property carrying the id of the enclosing call span. */
  val SpanProperty = "perfbench.span"
}
