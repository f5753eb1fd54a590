package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's pure parts: the percentile rule, span self time, metric
  * names and the result schema. */
class HarnessSpec extends AnyFunSuite {

  private def xs(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  test("tail percentile is the highest rung with at least ten samples beyond it") {
    assert(Stats.tail(xs(102)) == Some((90.0, 92.0)))  // rank 92, 10 beyond
    assert(Stats.tail(xs(200)) == Some((95.0, 190.0)))
    assert(Stats.tail(xs(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(xs(40)) == Some((75.0, 30.0)))
    assert(Stats.tail(xs(39)).isEmpty)                 // p75 leaves 9 beyond
    assert(Stats.tail(xs(11)).isEmpty)
  }

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(xs(10), 50) == 5.0)
    assert(Stats.percentile(xs(10), 90) == 9.0)
    assert(Stats.percentile(xs(10), 100) == 10.0)
    assert(Stats.percentile(xs(3), 1) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  private def call(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, "l", s"c$id", "call", s, e)
  private def job(id: Int, parent: Int, s: Long, e: Long) = Span(id, parent, "l", s"j$id", "job", s, e)

  test("self time is duration minus the time children cover") {
    val spans = Seq(call(1, 0, 0, 100), call(2, 1, 10, 40), job(3, 2, 15, 25), job(4, 1, 50, 70))
    val self = Span.selfTimes(spans)
    assert(self == Map(1 -> 50L, 2 -> 20L, 3 -> 10L, 4 -> 20L))
  }

  test("overlapping sibling jobs split the overlap in start order, so self times add up to the wall") {
    val spans = Seq(call(1, 0, 0, 100), job(2, 1, 10, 60), job(3, 1, 40, 80), job(4, 1, 95, 120))
    val self = Span.selfTimes(spans)
    assert(self(2) == 50L && self(3) == 20L && self(4) == 5L)  // job 4 clipped to its parent
    assert(self(1) == 25L)
    assert(self.values.sum == 100L)
  }

  test("a call's own self time plus its descendants' equals its wall time") {
    val spans = Seq(call(1, 0, 0, 1000), call(2, 1, 100, 600), job(3, 2, 90, 300),
      job(4, 2, 200, 650), call(5, 1, 700, 900), job(6, 5, 710, 720), job(7, 0, 2000, 2100))
    val self = Span.selfTimes(spans)
    for (c <- spans.filter(_.kind == "call")) {
      val sum = self(c.id) + Span.descendants(spans, c.id).map(d => self(d.id)).sum
      assert(sum == c.durNs, s"call ${c.id}")
    }
    assert(self(7) == 100L)  // an unattributed job is its own root
  }

  test("covered length of a union of intervals") {
    assert(Span.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0, 100) == 30L)
    assert(Span.covered(Seq((0L, 10L), (5L, 20L)), 8, 12) == 4L)
    assert(Span.covered(Nil, 0, 10) == 0L)
  }

  test("metric names are valid, unique and match BENCHMARK.json") {
    val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
    assert(names.forall(Json.validName), names.filterNot(Json.validName))
    assert(names.distinct.size == names.size)
    assert(!Json.validName("bad name") && !Json.validName("_x") && !Json.validName("a/b") &&
      !Json.validName("x" * 65))
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    import scala.jdk.CollectionConverters._
    def listed(key: String) = spec.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Workload.names)
  }

  test("the result line has exactly correct, attempted, failed and named metrics with units") {
    val line = Result.line(correct = true, attempted = 3, failed = 0,
      Seq(("setup_s", 1.5, "s"), ("op_p50_s", 0.25, "s")))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    import scala.jdk.CollectionConverters._
    assert(tree.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(tree.get("correct").isBoolean && tree.get("attempted").isInt && tree.get("failed").isInt)
    val m = tree.get("metrics")
    assert(m.fieldNames().asScala.toSeq == Seq("setup_s", "op_p50_s"))
    assert(m.get("setup_s").get("value").asDouble() == 1.5 && m.get("setup_s").get("unit").asText() == "s")
    assert(m.get("op_p50_s").fieldNames().asScala.toSeq == Seq("value", "unit"))
    intercept[IllegalArgumentException](Result.line(correct = true, 0, 0, Nil))
    intercept[IllegalArgumentException](Result.line(correct = true, 1, 0, Seq(("bad name", 1.0, "s"))))
    intercept[IllegalArgumentException](Result.line(correct = true, 1, 0, Seq(("x", Double.NaN, "s"))))
  }
}
