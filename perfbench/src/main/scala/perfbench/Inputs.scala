package perfbench

import org.apache.spark.sql.SparkSession

/** The seed-independent inputs, made once per source tree by the engine's
  * own scaler (`perfbench/inputs.py` then applies the seeded splits).
  * GenScale replicates with key offsets, so a replica is a new universe
  * of orders and documents rather than a copy (its per-replica token
  * suffix keeps replicated documents out of each other's near-dup
  * families). */
object Inputs {

  /** etl_month: the sf0.01 warehouse (lineitem: 60,000 rows) ×3. */
  val EtlFactor = 3

  /** corpus_cycle: sf0.01 documents (500) ×1. */
  val CorpusFactor = 1

  def prepare(spark: SparkSession, data: String, dest: String): Unit = {
    graft.tools.GenScale.scaleAll(spark, data, s"$dest/etl", EtlFactor)
    graft.tools.GenScale.scaleAll(spark, data, s"$dest/corpus", CorpusFactor, Some(Set("documents")))
  }

  /** A value of `inputs.json`, written with the seeded inputs. */
  def meta(inputs: String, key: String): Long = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$inputs/inputs.json"))
    require(tree.has(key), s"$inputs/inputs.json has no '$key'")
    tree.get(key).asLong()
  }
}

/** Local file-tree helpers (all paths are inside the benchmark's work dir). */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}

  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => JFiles.delete(x))
      finally s.close()
    }
  }

  private def regular(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) Nil
    else {
      val s = JFiles.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.filter(JFiles.isRegularFile(_)).toList }
      finally s.close()
    }
  }

  /** Copies the tree `from` to `to`, which must not exist. */
  def copy(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val s = JFiles.walk(src)
    try s.forEach(x => JFiles.copy(x, dst.resolve(src.relativize(x))))
    finally s.close()
  }

  def bytes(path: String): Long = regular(path).map(JFiles.size).sum

  /** Data files (parquet and CSV parts) under `path`. */
  def dataFiles(path: String): Int = regular(path).count { f =>
    val n = f.getFileName.toString
    n.endsWith(".parquet") || n.endsWith(".csv")
  }
}
