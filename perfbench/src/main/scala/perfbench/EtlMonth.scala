package perfbench

import graft.pipeline.{Pipeline, Reports}

/** etl_month: one month of the warehouse's life. What `graft.RunPipeline`
  * does after session start — EP1 (`Pipeline.runInstrumented`) over the
  * month directory, then the EP2 report pack (`Reports.generate`), into
  * parquet, CSV and an embedded Derby warehouse — followed by the
  * analyst's report queries over the same month ([[QueryMix]]). EP1 is
  * the reference's own job; the queries are read-only and bound by
  * planning and job scheduling.
  *
  * One operation is the EP1 call; one pass is EP1, the reports and the
  * queries. */
final class EtlMonth(inputs: String, seed: Long, benchDir: String) extends Workload {
  val name = "etl_month"

  private val monthDir = s"$inputs/month"
  private val rows = Inputs.meta(inputs, "rows")
  private var summaryRows = 0L
  val queries = new QueryMix(monthDir, s"$benchDir/expected/queries.json")

  private def jdbcUrl(run: Run) = s"jdbc:derby:${run.work}/derby/warehouse;create=true"

  private def jdbc(run: Run) =
    graft.engine.Config.Jdbc("localhost", 0, "warehouse", "", "", Some(jdbcUrl(run)))

  private def summaryCount(run: Run): Long = {
    val c = java.sql.DriverManager.getConnection(jdbcUrl(run))
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM PIPELINE_SUMMARY")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  private def outDir(run: Run, index: Int) = s"${run.work}/out/etl-$index"

  /** One month: EP1, the report pack and the queries, each timed and
    * checked; returns the timed seconds when every step succeeded. */
  private def month(run: Run, out: String, index: Int): Option[Double] = {
    val spark = run.spark
    val ep1 = run.attempt("ep1") {
      run.tracer.span("pipeline", "ep1") {
        Pipeline.runInstrumented(spark, Seq(monthDir), out, jdbc = Some(jdbc(run)))
      }
    } { case (reports, _) =>
      val bad = reports.flatMap(_.stages).filterNot(_.ok)
      run.expect(bad.isEmpty, s"EP1 stages failed: ${bad.map(s => s"${s.stage}: ${s.detail}").mkString("; ")}")
      val q = reports.flatMap(_.stages).find(_.stage == "quality_metrics").map(_.rows)
      run.expect(q.contains(rows), s"quality_metrics counted $q rows, input has $rows")
      val buckets = spark.read.parquet(s"$out/month/bucket_stats").count()
      run.expect(buckets == 4, s"bucket_stats has $buckets rows, expected 4")
      val (before, after) = (summaryRows, summaryCount(run))
      summaryRows = after
      run.expect(after == before + 1, s"PIPELINE_SUMMARY has $after rows, expected ${before + 1}")
    }
    ep1.flatMap { case ((reports, _), ep1S) =>
      val artifacts = reports.find(_.ok).get
      run.attempt("reports") {
        run.tracer.span("pipeline", "reports") {
          Reports.generate(spark, artifacts.dir, s"$out/month", s"$out/reports")
        }
      } { _ =>
        Seq("summary", "analysis", "hourly_demand", "inventory").foreach { r =>
          run.expect(Files.dataFiles(s"$out/reports/$r") == 1, s"report $r has no single CSV")
        }
      }.flatMap { case (_, reportsS) =>
        run.sample("op", ep1S)
        run.sample("etl_rows_per_s", rows / (ep1S + reportsS))
        val order = new scala.util.Random(seed * 1000003L + index).shuffle(queries.specs)
        queries.pass(run, order).map(ep1S + reportsS + _)
      }
    }
  }

  def warmup(run: Run): Unit = {
    month(run, outDir(run, -1), -1)
    Files.delete(outDir(run, -1))
  }

  def pass(run: Run, index: Int): Unit = {
    val out = outDir(run, index)
    month(run, out, index).foreach { s =>
      run.sample("pass", s)
    }
    if (run.tracing) run.addLayer("io.sinks.files", Files.dataFiles(out))
    Files.delete(out)
  }

  def summarize(run: Run, t: PassTrace): Unit = {
    val ep1 = t.callsNamed(_ == "ep1")
    val ep1Jobs = t.jobsUnder(ep1)
    val all = t.jobsUnder(t.calls)
    run.addLayer("pipeline.ep1.jobs", ep1Jobs.size)
    run.addLayer("pipeline.ep1.stages", t.stages(ep1Jobs).size)
    run.addLayer("pipeline.ep1.tasks", t.sum(ep1Jobs)(_.tasks))
    run.addLayer("pipeline.ep1.executor_run_s", t.sum(ep1Jobs)(_.runMs) / 1e3)
    run.addLayer("pipeline.ep1.executor_cpu_s", t.sum(ep1Jobs)(_.cpuNs) / 1e9)
    run.addLayer("pipeline.ep1.gc_s", t.sum(ep1Jobs)(_.gcMs) / 1e3)
    run.addLayer("pipeline.ep1.core_use", t.coreUse(ep1))
    run.addLayer("pipeline.ep1.spill_bytes", t.sum(ep1Jobs)(_.spillBytes))
    run.addLayer("pipeline.ep1.skew", t.skew(ep1Jobs))
    run.addLayer("pipeline.ep1.gap_s", t.gapS(ep1))
    run.addLayer("model.scan_rows_per_input_row", t.sum(ep1Jobs)(_.inRecords).toDouble / rows)
    run.addLayer("model.scan_bytes", t.sum(ep1Jobs)(_.inBytes))
    run.addLayer("io.sinks.write_s", t.jobWallS(all.filter(PassTrace.submittedFrom(_, "graft.io.Sinks"))))
    run.addLayer("io.sinks.output_bytes", t.sum(all)(_.outBytes))
    run.addLayer("io.jdbc_s", t.jobWallS(all.filter(_.callSite.contains("Sinks$.jdbc"))))
    run.addLayer("ops.cache_bytes", t.cachedPeakBytes)
    queries.summarize(run, t)
  }

  def report(run: Run): Seq[(String, Any)] = Seq(
    "input_rows" -> rows,
    "input_files" -> Files.dataFiles(s"$monthDir/lineitem.parquet"),
    "ep1_p50_s" -> Main.summary(run.samples("op")),
    "etl_rows_per_s" -> Main.summary(run.samples("etl_rows_per_s")),
    "queries" -> queries.specs.map(_.name),
    "query_p50_s" -> Main.summary(run.samples("query")))
}
