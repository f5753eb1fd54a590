package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QuerySpec

/** The analyst's report queries over the month: the production plans of
  * a fixed sample of the registry's query families, run into the `noop`
  * sink in a seed-permuted order. Their latency is set by planning
  * and job scheduling more than by scan throughput.
  *
  * A query is timed from `production(...)` to the end of its write. Each
  * write carries an order-insensitive fingerprint of its rows (an
  * `Observation`, computed by the same job) that must equal the committed
  * expectation; approximate plans are checked on their row count. */
final class QueryMix(dir: String, expectedPath: String) {

  val specs: Seq[QuerySpec] = QueryMix.select(graft.SparkEntry.specs)
  private lazy val expected: Map[String, QueryMix.Expectation] = {
    val e = QueryMix.loadExpectations(expectedPath)
    val missing = specs.map(_.name).filterNot(e.contains)
    require(missing.isEmpty, s"no committed expectation for ${missing.mkString(", ")}")
    e
  }

  /** Runs one query with its fingerprint; returns (rows, hash). */
  private def runQuery(run: Run, spec: QuerySpec): (Long, BigDecimal) = {
    val df = run.tracer.span("queries", s"build ${spec.name}")(spec.production(run.spark, dir))
    val obs = Observation()
    val observed = QueryMix.fingerprinted(df, obs)
    run.tracer.span("queries", s"exec ${spec.name}") {
      observed.write.mode("overwrite").format("noop").save()
    }
    val m = obs.get
    (m("rows").asInstanceOf[Long],
      Option(m("hash")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
  }

  /** Runs every query once in `order`, each an attempted operation with
    * its output check; records each latency as a "query" sample and
    * returns the total seconds when all succeeded. */
  def pass(run: Run, order: Seq[QuerySpec]): Option[Double] = {
    val times = order.flatMap { spec =>
      val r = run.attempt(spec.name)(runQuery(run, spec)) { case (rows, hash) =>
        val e = expected(spec.name)
        run.expect(rows == e.rows, s"${spec.name}: $rows rows, expected ${e.rows}")
        if (e.mode == "exact")
          run.expect(hash == e.hash, s"${spec.name}: fingerprint $hash, expected ${e.hash}")
      }
      r.map { case (_, s) => run.sample("query", s); s }
    }
    if (times.size == order.size) Some(times.sum) else None
  }

  def summarize(run: Run, t: PassTrace): Unit = {
    val builds = t.callsNamed(_.startsWith("build "))
    val execs = t.callsNamed(_.startsWith("exec "))
    val js = t.jobsUnder(builds ++ execs)
    run.addLayer("queries.build_s", t.wallS(builds))
    run.addLayer("queries.plan_s", t.planSpans.filter(p => execs.exists(_.id == p.parent)).map(_.durNs).sum / 1e9)
    run.addLayer("queries.exec_s", t.wallS(execs))
    run.addLayer("queries.jobs", js.size)
    run.addLayer("queries.stages", t.stages(js).size)
    run.addLayer("queries.tasks", t.sum(js)(_.tasks))
    run.addLayer("queries.gap_s", t.gapS(execs))
    run.addLayer("queries.executor_run_s", t.sum(js)(_.runMs) / 1e3)
    run.addLayer("queries.executor_cpu_s", t.sum(js)(_.cpuNs) / 1e9)
    run.addLayer("queries.core_use", t.coreUse(builds ++ execs))
    run.addLayer("queries.shuffle_read_bytes", t.sum(js)(_.shuffleReadBytes))
    run.addLayer("queries.shuffle_write_bytes", t.sum(js)(_.shuffleWriteBytes))
    run.addLayer("queries.scan_bytes", t.sum(js)(_.inBytes))
  }

  /** Records the expectations: every query three times, in three orders.
    * A query whose plan is approximate, or whose fingerprint moved
    * between the repetitions, is checked on its row count only. */
  def record(run: Run): Unit = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, List[(Long, BigDecimal)]]
    (0 until 3).foreach { i =>
      new scala.util.Random(i).shuffle(specs).foreach { s =>
        seen(s.name) = runQuery(run, s) :: seen.getOrElse(s.name, Nil)
      }
    }
    val entries = specs.map { s =>
      val runs = seen(s.name)
      val rows = runs.map(_._1).distinct
      require(rows.size == 1, s"${s.name}: row count differs between repetitions: $rows")
      val approx = QueryMix.approximate(s.production(run.spark, dir))
      val mode = if (approx || runs.map(_._2).distinct.size > 1) "rows" else "exact"
      s.name -> Json.obj("mode" -> mode, "rows" -> rows.head, "hash" -> runs.head._2.toString)
    }
    JFiles.write(Paths.get(expectedPath),
      (Json.render(Json.obj("queries" -> Json.Obj(entries))) + "\n").getBytes(UTF_8))
  }
}

object QueryMix {
  /** The first query, in name order, of the registry's aggregate (a) and
    * join (j) families: a fixed sample of the 102 production plans of its
    * report families (a, d, ep, j, w), small enough that the month's cold
    * warm-up and three timed passes fit one run. */
  val SampledFamilies = Seq("a", "j")

  def select(all: Seq[QuerySpec]): Seq[QuerySpec] =
    SampledFamilies.flatMap(f => all.filter(_.name.matches(s"$f[0-9].*")).sortBy(_.name).headOption)

  final case class Expectation(mode: String, rows: Long, hash: BigDecimal)

  def loadExpectations(path: String): Map[String, Expectation] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val q = root.get("queries")
    import scala.jdk.CollectionConverters._
    q.fieldNames().asScala.map { n =>
      val e = q.get(n)
      n -> Expectation(e.get("mode").asText(), e.get("rows").asLong(), BigDecimal(e.get("hash").asText()))
    }.toMap
  }

  /** Plans whose result is an estimate or a sample. */
  def approximate(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan.toString.toLowerCase
    Seq("approx", "percentile_approx", "hyperloglog", "sample", "rand(", "bloom", "sketch")
      .exists(plan.contains)
  }

  /** A value whose rendering does not depend on floating-point summation
    * order: six significant digits, with -0.0 folded into 0.0. */
  private def stable(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.6g", when(c === 0, lit(0.0)).otherwise(c.cast(DoubleType)))
    case _ => c
  }

  /** `df` with an observation of its row count and the sum of its
    * rows' hashes — an order-insensitive fingerprint. Columns are
    * renamed positionally so duplicate output names stay addressable. */
  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(renamed.schema.fields.toIndexedSeq.map(f => stable(col(f.name), f.dataType)): _*)
    renamed.observe(obs, count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("hash"))
  }
}
