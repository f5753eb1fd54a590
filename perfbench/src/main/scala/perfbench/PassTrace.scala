package perfbench

import scala.collection.mutable

/** The trace of one traced pass: the harness call spans, one child span
  * per Spark job (under the call that submitted it) and one per planning
  * phase (under the call it ran in), with helpers that turn them into
  * per-layer metrics. */
final class PassTrace(val calls: Seq[Span], counters: SparkCounters,
                      planIntervalsMs: Seq[(Long, Long)], val cores: Int) {
  import PassTrace._

  private val callIds = calls.map(_.id).toSet
  val jobs: Seq[SparkCounters.Job] = counters.jobs.filter(_.endMs >= 0)

  private def innermostCall(startNs: Long, endNs: Long): Int =
    calls.filter(c => c.startNs <= startNs + 1000000L && c.endNs + 1000000L >= endNs)
      .sortBy(c => (-c.startNs, -c.id)).headOption.map(_.id).getOrElse(0)

  val jobSpans: Seq[Span] = jobs.map { j =>
    Span(JobIdBase + j.id, if (callIds(j.span)) j.span else 0, moduleOf(j.callSite),
      s"job ${j.id}: ${j.callSite.linesIterator.nextOption().getOrElse("")}", "job",
      j.startMs * 1000000L, j.endMs * 1000000L)
  }

  val planSpans: Seq[Span] = planIntervalsMs.zipWithIndex.map { case ((s, e), i) =>
    val parent = innermostCall(s * 1000000L, e * 1000000L)
    Span(PlanIdBase + i, parent, calls.find(_.id == parent).map(_.layer).getOrElse("spark"),
      "plan", "plan", s * 1000000L, e * 1000000L)
  }

  val spans: Seq[Span] = calls ++ jobSpans ++ planSpans
  val self: Map[Int, Long] = Span.selfTimes(spans)

  /** Largest difference, over all call spans, between a call's wall time
    * and the self times of it and its descendants; 0 when the
    * attribution is exact. */
  def selfResidualNs: Long =
    if (calls.isEmpty) 0L
    else calls.map { c =>
      val sum = self.getOrElse(c.id, 0L) + Span.descendants(spans, c.id).map(d => self.getOrElse(d.id, 0L)).sum
      math.abs(sum - c.durNs)
    }.max

  def callsNamed(p: String => Boolean): Seq[Span] = calls.filter(c => p(c.name))

  /** Jobs submitted by any of `roots` or their descendant calls. */
  def jobsUnder(roots: Seq[Span]): Seq[SparkCounters.Job] = {
    val ids = roots.flatMap(r => r.id +: Span.descendants(calls, r.id).map(_.id)).toSet
    jobs.filter(j => ids(j.span))
  }

  def wallS(roots: Seq[Span]): Double = roots.map(_.durNs).sum / 1e9

  /** Time inside `roots` during which none of their jobs ran. */
  def gapS(roots: Seq[Span]): Double = roots.map { r =>
    val iv = jobsUnder(Seq(r)).map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
    r.durNs - Span.covered(iv, r.startNs, r.endNs)
  }.sum / 1e9

  def jobWallS(js: Seq[SparkCounters.Job]): Double = js.map(j => j.endMs - j.startMs).sum / 1e3

  /** The stages `js` ran, each counted once. */
  def stages(js: Seq[SparkCounters.Job]): Seq[SparkCounters.StageAgg] = {
    val seen = mutable.Set.empty[Int]
    js.flatMap(j => counters.ranStages(j, seen))
  }

  def sum(js: Seq[SparkCounters.Job])(f: SparkCounters.StageAgg => Long): Long = stages(js).map(f).sum

  /** Σ executor run time ÷ (cores × wall time of `roots`). */
  def coreUse(roots: Seq[Span]): Double = {
    val wall = wallS(roots)
    if (wall <= 0) 0.0 else sum(jobsUnder(roots))(_.runMs) / 1e3 / (cores * wall)
  }

  /** Max ÷ median task run time of the stage with the most run time. */
  def skew(js: Seq[SparkCounters.Job]): Double = {
    val st = stages(js).filter(_.taskRunMs.nonEmpty)
    if (st.isEmpty) 0.0
    else {
      val worst = st.maxBy(_.runMs)
      val med = Stats.median(worst.taskRunMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else worst.taskRunMs.max / med
    }
  }

  def cachedPeakBytes: Long = counters.cachedPeakBytes

  /** JSON lines, one per span, for the trace file. */
  def jsonLines(runId: String, pass: Int): Seq[String] = spans.sortBy(s => (s.startNs, s.id)).map { s =>
    Json.render(Json.obj(
      "run" -> runId, "pass" -> pass, "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> self.getOrElse(s.id, 0L)))
  }
}

object PassTrace {
  val JobIdBase = 10000000
  val PlanIdBase = 20000000

  private val GraftFrame = """graft\.([A-Za-z]+)\.""".r

  /** Module of the innermost engine frame in a job's call site
    * ("io" for graft.io.Sinks), or "spark" when the job was submitted
    * from one of Spark's own threads (adaptive-execution stages,
    * broadcasts), whose stacks hold no engine frames. */
  def moduleOf(callSite: String): String =
    GraftFrame.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("spark")

  /** Whether a job was submitted from `qualifiedName` (e.g. "graft.io.Sinks"). */
  def submittedFrom(job: SparkCounters.Job, qualifiedName: String): Boolean =
    job.callSite.contains(qualifiedName + "$.")

  /** Whether a job materialises a checkpoint (its outermost Spark frame is
    * a checkpoint call). */
  def isCheckpoint(job: SparkCounters.Job): Boolean =
    job.callSite.linesIterator.nextOption().exists(_.toLowerCase.contains("checkpoint"))
}
