package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}

/** Benchmark entry point; `perfbench/run.py` builds the classpath and
  * launches it.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --bench-dir perfbench --inputs DIR --work DIR --result FILE
  *   perfbench.Main --bench-dir perfbench --prepare DIR
  *
  * `--prepare` writes the seed-independent scaled corpus that
  * `perfbench/inputs.py` splits into each run's seeded inputs;
  * `--warmup-only 1` stops a run after its warm-up (to record the
  * class-data archive); `--record 1` re-records etl_month's query
  * expectations instead of running. A run: set
  * up (`Sessions.local()` and the workload's warm-up, which includes any
  * state initialisation), timed as setup_s; timed passes until `seconds` have
  * elapsed; result record.
  * With `--trace 1` passes alternate untraced/traced and the per-layer
  * metrics come from the traced ones. */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val benchDir = arg("bench-dir")
    args.get("prepare").foreach { dest =>
      val spark = graft.engine.Sessions.local()
      try Inputs.prepare(spark, s"$benchDir/data/sf0.01", dest) finally spark.stop()
      return
    }
    val seed = arg("seed").toLong
    val workload = Workload.create(arg("workload"), arg("inputs"), seed, benchDir)
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = arg("work")
    val resultPath = arg("result")
    val loadBefore = loadAverage()

    val run = new Run(workload.name, seed, work)
    val setupStart = System.nanoTime()
    val spark = graft.engine.Sessions.local()
    val sessionS = (System.nanoTime() - setupStart) / 1e9
    run.spark = spark
    run.tracer.bind(spark.sparkContext)
    if (args.get("record").contains("1")) {
      workload match {
        case m: EtlMonth => m.queries.record(run)
        case _ => throw new IllegalArgumentException("--record applies to etl_month only")
      }
      spark.stop()
      return
    }
    val warmStart = System.nanoTime()
    workload.warmup(run)
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    if (args.get("warmup-only").contains("1")) {
      spark.stop()
      return
    }
    // warm-up failures are not timed operations of the benchmark
    run.attempted = 0
    run.failed = 0
    run.failures.clear()
    run.clearSamples()

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (trace) 2 else 1
    val traceLines = scala.collection.mutable.ArrayBuffer.empty[String]
    var residualNs = 0L
    var index = 0
    while (index < minPasses || System.nanoTime() < deadline) {
      val traced = trace && index % 2 == 1
      if (!traced) workload.pass(run, index)
      else {
        val counters = new SparkCounters
        val plans = new PlanPhases
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(plans)
        run.tracer.enabled = true
        val before = run.tracer.calls.size
        try workload.pass(run, index)
        finally {
          run.tracer.enabled = false
          org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(plans)
          spark.sparkContext.removeSparkListener(counters)
        }
        val t = new PassTrace(run.tracer.calls.drop(before), counters, plans.intervalsMs, run.cores)
        residualNs = math.max(residualNs, t.selfResidualNs)
        traceLines ++= t.jsonLines(run.tracer.runId, index)
        workload.summarize(run, t)
        run.tracedPasses += 1
      }
      index += 1
    }
    if (trace)
      run.attempt("trace self-time attribution")(residualNs) { r =>
        run.expect(r <= 1000L, s"self times miss their call's wall time by $r ns")
      }

    val setupS = sessionS + warmupS
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(run, setupS)
      else perLayer(run, sessionS, warmupS)
    val record = Json.obj(
      "workload" -> workload.name,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "error_rate" -> (if (run.attempted == 0) 0.0 else run.failed.toDouble / run.attempted),
      "failures" -> run.failures.toSeq,
      "result" -> Result.line(run.failed == 0, run.attempted, run.failed, metrics),
      "passes" -> index,
      "traced_passes" -> run.tracedPasses,
      "setup" -> Json.obj("session_s" -> sessionS, "warmup_s" -> warmupS),
      "samples" -> Json.Obj(run.sampleNames.map(n => n -> summary(run.samples(n)))),
      "workload_metrics" -> Json.Obj(workload.report(run)),
      "environment" -> Json.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "SPARK_GRAFT_CPUS" -> sys.env.get("SPARK_GRAFT_CPUS"),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "load_before" -> loadBefore,
        "load_after" -> loadAverage()))
    if (traceLines.nonEmpty)
      JFiles.write(Paths.get(resultPath.stripSuffix(".json") + ".trace.jsonl"),
        traceLines.mkString("", "\n", "\n").getBytes(UTF_8))
    JFiles.write(Paths.get(resultPath), Json.render(record).getBytes(UTF_8))
  }

  /** Median, sample count and the highest percentile with at least ten
    * samples beyond it. */
  def summary(xs: Seq[Double]): Json.Obj =
    if (xs.isEmpty) Json.obj("n" -> 0)
    else Json.Obj(Seq("n" -> xs.size, "median" -> Stats.median(xs)) ++
      Stats.tail(xs).toSeq.flatMap { case (p, v) => Seq("tail_percentile" -> p, "tail" -> v) } :+
      ("values" -> xs))

  /** The end-to-end metrics of BENCHMARK.json, from untraced passes. */
  def endToEnd(run: Run, setupS: Double): Seq[(String, Double, String)] = {
    def med(name: String): Double = {
      val xs = run.samples(name)
      require(xs.nonEmpty, s"no successful '$name' samples; failures: ${run.failures.mkString("; ")}")
      Stats.median(xs)
    }
    Metrics.endToEnd.map { case (name, unit) =>
      val v = name match {
        case "setup_s"     => setupS
        case "op_p50_s"    => med("op")
        case "pass_s"      => med("pass")
        case "peak_rss_mb" => peakRssMb()
      }
      (name, v, unit)
    }
  }

  /** The per-layer metrics of BENCHMARK.json: means over traced passes;
    * a layer the workload does not exercise reports 0. */
  def perLayer(run: Run, sessionS: Double, warmupS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, run.tracedPasses)
    val traced = run.samples("pass", traced = true)
    val untraced = run.samples("pass")
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) / Stats.median(untraced)
    Metrics.perLayer.map { case (name, unit) =>
      val v = name match {
        case "engine.session_s" => sessionS
        case "engine.warmup_s"  => warmupS
        case "trace.overhead"   => overhead
        case other => run.layerSums.getOrElse(other, 0.0) / n
      }
      (name, v, unit)
    }
  }

  private def read(path: String): String =
    new String(JFiles.readAllBytes(Paths.get(path)), UTF_8)

  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not in /proc/self/status"))

  def loadAverage(): Seq[Double] =
    scala.util.Try(read("/proc/loadavg").trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Nil)
}
