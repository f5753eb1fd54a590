package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.{Sinks, Versioned}
import graft.ops.Dedup
import graft.pipeline.{DocPipeline, IncrementalIngest}

/** corpus_cycle: read-modify-write of persisted corpus state. Set-up
  * bootstraps a state root with `IncrementalIngest.init` on the 80% base
  * (counted in setup_s) and keeps it as a snapshot. A pass times each 5%
  * batch through `IncrementalIngest.applyBatch` (the streaming
  * foreachBatch body, with its `Replay` marker) on its own fresh copy of
  * the snapshot (restored untimed), so that the batches are samples of
  * one operation; then, on the last batch's root, `forget` of ~1% of its
  * documents and the capped corpus build (`DocPipeline.cleanCorpus`
  * written with `Sinks.parquet`). Batches are small, so job count and
  * commit cost set their latency.
  *
  * One operation is one batch; one pass is the batches, forget and build. */
final class CorpusCycle(inputs: String) extends Workload {
  val name = "corpus_cycle"

  private val dir = s"$inputs/corpus"
  private val docsPath = s"$dir/documents.parquet"
  private val basePath = s"$dir/base.parquet"
  private def batchPath(i: Int) = s"$dir/batch-$i.parquet"
  private val forgetPath = s"$dir/forget.parquet"
  private val batches = Inputs.meta(inputs, "batches").toInt
  private val ingestedTextBytes = Inputs.meta(inputs, "ingested_text_bytes")
  private val forgetCount = Inputs.meta(inputs, "forgotten")
  private val survivorCount = Inputs.meta(inputs, "ingested") - forgetCount
  private var initS = 0.0
  private var reference: Option[Map[Long, Long]] = None

  private def labels(spark: SparkSession, root: String): Map[Long, Long] =
    Versioned.read(spark, IncrementalIngest.StatePaths(root).labels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def snapshot(run: Run) = s"${run.work}/state-snapshot"

  /** Restores the post-init snapshot into `root`. The archive's stats
    * manifest names its files by absolute path, so it is rebuilt for the
    * copy with the same call `init` ends with. */
  private def restore(run: Run, root: String): Unit = {
    Files.copy(snapshot(run), root)
    graft.ops.Manifest.writeManifest(run.spark, IncrementalIngest.StatePaths(root).archive, Seq("doc_id"))
  }

  /** The untimed from-scratch reference: the labels `init` over the
    * surviving docs writes, from the calls it makes. Computed when first
    * needed, on a warm JVM. */
  private def referenceLabels(spark: SparkSession): Map[Long, Long] = reference.getOrElse {
    val ingested = spark.read.parquet(basePath).select("doc_id", "text")
      .unionByName(spark.read.parquet(batchPath(batches - 1)))
    val survivors = ingested.join(spark.read.parquet(forgetPath), Seq("doc_id"), "left_anti")
    val ref = Dedup.connectedComponents(
      Dedup.minhashNearDup(survivors, maxDf = Some(Dedup.DefaultMaxDf)).select("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    reference = Some(ref)
    ref
  }

  def warmup(run: Run): Unit = {
    val spark = run.spark
    val t0 = System.nanoTime()
    IncrementalIngest.init(spark, spark.read.parquet(basePath), snapshot(run))
    initS = (System.nanoTime() - t0) / 1e9
    // plan and compile the batch's queries once, on a copy
    val warm = s"${run.work}/state-warmup"
    restore(run, warm)
    IncrementalIngest.applyBatch(spark.read.parquet(batchPath(0)), warm, 0L)
    Files.delete(warm)
  }

  private def stateBytes(p: IncrementalIngest.StatePaths) = Files.bytes(p.labels) + Files.bytes(p.shingleDf)

  /** One cycle, each batch on a fresh copy of the post-init state and the
    * rest on the last batch's root; returns the timed seconds when every
    * step succeeded. */
  private def cycle(run: Run, index: Int): Option[Double] = {
    val spark = run.spark
    def rootOf(i: Int) = s"${run.work}/state-$index-$i"
    val batchS = (0 until batches).flatMap { i =>
      val root = rootOf(i)
      restore(run, root)
      val p = IncrementalIngest.StatePaths(root)
      val before = stateBytes(p)
      val r = run.attempt(s"batch $i") {
        run.tracer.span("pipeline", "ingest.batch") {
          IncrementalIngest.applyBatch(spark.read.parquet(batchPath(i)), root, i.toLong)
        }
      } { _ =>
        run.expect(new java.io.File(s"$root/_applied/batch=$i").isDirectory, s"batch $i left no replay marker")
      }
      if (run.tracing) {
        run.addLayer("io.versioned.bytes_per_batch", (stateBytes(p) - before).toDouble / batches)
        val latest = Versioned.latestVersion(spark, p.labels).get
        run.addLayer("ops.dedup.label_changes", spark.read.parquet(s"${p.labels}/v=$latest").count())
      }
      if (i < batches - 1) Files.delete(root)
      r.map(_._2)
    }
    batchS.foreach(run.sample("op", _))
    val root = rootOf(batches - 1)
    val p = IncrementalIngest.StatePaths(root)
    if (run.tracing)
      run.addLayer("io.versioned.chain_length",
        Versioned.chainLength(spark, p.labels) + Versioned.chainLength(spark, p.shingleDf))

    // the reference is valid while no shingle's document frequency
    // reaches the cap; the table now counts every doc of this root
    val maxDf = Versioned.read(spark, p.shingleDf).agg(max("df")).head().getLong(0)
    val forget = run.attempt("forget") {
      run.tracer.span("pipeline", "forget") {
        IncrementalIngest.forget(spark, spark.read.parquet(forgetPath), root)
      }
    } { r =>
      run.expect(r.forgotten == forgetCount, s"forget erased ${r.forgotten} docs, expected $forgetCount")
      val archived = spark.read.parquet(p.archive).count()
      run.expect(archived == survivorCount, s"archive holds $archived docs after forget, expected $survivorCount")
      val got = labels(spark, root)
      run.expect(maxDf <= Dedup.DefaultMaxDf,
        s"a shingle reaches df $maxDf > ${Dedup.DefaultMaxDf}: incremental labels need not equal a rebuild")
      run.expect(referenceLabels(spark) == got,
        s"labels after the cycle (${got.size}) differ from a from-scratch init over the survivors")
    }
    if (run.tracing) forget.foreach { case (r, _) =>
      run.addLayer("pipeline.forget.files_rewritten", r.filesRewritten)
      run.addLayer("ops.manifest.files", spark.read.parquet(graft.ops.Manifest.manifestPath(p.archive)).count())
    }

    val out = s"$root.corpus"
    val build = run.attempt("corpus build") {
      val docs = spark.read.parquet(docsPath)
        .join(spark.read.parquet(p.archive).select("doc_id"), Seq("doc_id"), "left_semi")
      val cleaned = run.tracer.span("pipeline", "corpus.clean") {
        DocPipeline.cleanCorpus(docs, maxDf = Some(Dedup.DefaultMaxDf))
      }
      run.tracer.span("io", "corpus.write")(Sinks.parquet(cleaned, out))
    } { _ =>
      val n = spark.read.parquet(out).count()
      run.expect(n > 0 && n <= survivorCount, s"corpus build wrote $n docs from $survivorCount survivors")
    }

    val replay = run.attempt("replay") {
      val versions = Versioned.versions(spark, p.labels)
      val archived = spark.read.parquet(p.archive).count()
      val last = batches - 1
      IncrementalIngest.applyBatch(spark.read.parquet(batchPath(last)), root, last.toLong)
      (versions, archived, Versioned.versions(spark, p.labels), spark.read.parquet(p.archive).count())
    } { case (v0, a0, v1, a1) =>
      run.expect(v0 == v1 && a0 == a1, "re-applying a marked batch id changed the state")
    }
    if (run.tracing) {
      val markers = Option(new java.io.File(s"$root/_applied").list()).map(_.length).getOrElse(0)
      run.addLayer("streaming.replay.markers", markers)
    }

    val ok = batchS.size == batches && forget.isDefined && build.isDefined && replay.isDefined
    val total = batchS.sum + forget.map(_._2).getOrElse(0.0) + build.map(_._2).getOrElse(0.0)
    if (ok) {
      run.sample("forget_s", forget.get._2)
      run.sample("corpus_build_s", build.get._2)
      run.sample("state_bytes_per_input_byte", Files.bytes(root).toDouble / ingestedTextBytes)
    }
    if (run.tracing) run.addLayer("io.sinks.files", Files.dataFiles(root) + Files.dataFiles(out))
    Files.delete(root)
    Files.delete(out)
    if (ok) Some(total) else None
  }

  def pass(run: Run, index: Int): Unit =
    cycle(run, index).foreach(run.sample("pass", _))

  def summarize(run: Run, t: PassTrace): Unit = {
    val batches = t.callsNamed(_ == "ingest.batch")
    val batchJobs = t.jobsUnder(batches)
    run.addLayer("pipeline.ingest.jobs", batchJobs.size)
    run.addLayer("pipeline.ingest.gap_s", t.gapS(batches))
    run.addLayer("pipeline.ingest.core_use", t.coreUse(batches))
    run.addLayer("pipeline.ingest.checkpoint_jobs", batchJobs.count(PassTrace.isCheckpoint))
    val corpus = t.callsNamed(n => n == "corpus.clean" || n == "corpus.write")
    val corpusJobs = t.jobsUnder(corpus)
    run.addLayer("pipeline.corpus.jobs", corpusJobs.size)
    run.addLayer("pipeline.corpus.checkpoint_jobs", corpusJobs.count(PassTrace.isCheckpoint))
    run.addLayer("pipeline.corpus.shuffle_bytes", t.sum(corpusJobs)(_.shuffleWriteBytes))
    val all = t.jobsUnder(t.calls)
    run.addLayer("model.scan_bytes", t.sum(all)(_.inBytes))
    run.addLayer("io.sinks.write_s", t.jobWallS(all.filter(PassTrace.submittedFrom(_, "graft.io.Sinks"))))
    run.addLayer("io.sinks.output_bytes", t.sum(all)(_.outBytes))
    run.addLayer("ops.cache_bytes", t.cachedPeakBytes)
  }

  def report(run: Run): Seq[(String, Any)] = Seq(
    "ingest_batch_p50_s" -> Main.summary(run.samples("op")),
    "forget_s" -> Main.summary(run.samples("forget_s")),
    "corpus_build_s" -> Main.summary(run.samples("corpus_build_s")),
    "state_bytes_per_input_byte" -> Main.summary(run.samples("state_bytes_per_input_byte")),
    "ingested_text_bytes" -> ingestedTextBytes,
    "init_s" -> initS,
    "forgotten" -> forgetCount,
    "survivors" -> survivorCount)
}
