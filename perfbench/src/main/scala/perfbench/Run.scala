package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** An output check failed: the operation it validates counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State of one benchmark run: the session, the tracer, the samples and
  * the attempted/failed operation counts. */
final class Run(workload: String, seed: Long, val work: String) {

  val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  var spark: SparkSession = _
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]

  /** Whether the pass in progress is traced. */
  def tracing: Boolean = tracer.enabled
  private val untracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Per-layer sums over traced passes, and how many passes were traced. */
  val layerSums = mutable.LinkedHashMap.empty[String, Double]
  var tracedPasses = 0

  def sample(name: String, v: Double): Unit =
    (if (tracing) tracedSamples else untracedSamples)
      .getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def samples(name: String, traced: Boolean = false): Seq[Double] =
    (if (traced) tracedSamples else untracedSamples).get(name).map(_.toSeq).getOrElse(Nil)

  def clearSamples(): Unit = { untracedSamples.clear(); tracedSamples.clear() }

  def sampleNames: Seq[String] = untracedSamples.keys.toSeq

  def addLayer(name: String, v: Double): Unit =
    layerSums(name) = layerSums.getOrElse(name, 0.0) + v

  def addLayer(name: String, v: Long): Unit = addLayer(name, v.toDouble)

  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** One attempted operation: `timed` is measured, then `verify` checks
    * its output outside the measurement. Returns the value and seconds,
    * or None when the call threw or a check failed. */
  def attempt[T](what: String)(timed: => T)(verify: T => Unit): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = timed
      val dt = (System.nanoTime() - t0) / 1e9
      verify(v)
      Some((v, dt))
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(400)}"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }
}

/** One benchmark workload. */
trait Workload {
  def name: String

  /** Untimed warm-up at the workload's own scale, and any state the
    * passes start from (counted in setup_s). */
  def warmup(run: Run): Unit

  /** One timed pass. Records the samples "op" (one operation's latency)
    * and "pass" (the pass's timed work). */
  def pass(run: Run, index: Int): Unit

  /** Adds the per-layer metrics of one traced pass to `run.layerSums`. */
  def summarize(run: Run, t: PassTrace): Unit

  /** Workload-specific values for the result record. */
  def report(run: Run): Seq[(String, Any)]
}

object Workload {
  val names: Seq[String] = Seq("etl_month", "corpus_cycle")

  /** The workload `name` over the seeded inputs under `inputs`. */
  def create(name: String, inputs: String, seed: Long, benchDir: String): Workload = name match {
    case "etl_month"    => new EtlMonth(inputs, seed, benchDir)
    case "corpus_cycle" => new CorpusCycle(inputs)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (have: ${names.mkString(", ")})")
  }
}
