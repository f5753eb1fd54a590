package perfbench

/** The benchmark's result line: exactly `correct`, `attempted`, `failed`
  * and `metrics`, each metric a finite value with its unit. */
object Result {
  def line(correct: Boolean, attempted: Int, failed: Int,
           metrics: Seq[(String, Double, String)]): String = {
    require(attempted >= 1, s"a run attempts at least one operation, got $attempted")
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    metrics.foreach { case (n, v, u) =>
      require(Json.validName(n), s"invalid metric name '$n'")
      require(!v.isNaN && !v.isInfinite, s"metric $n is not finite: $v")
      require(u.nonEmpty && u.length <= 16, s"invalid unit '$u' of $n")
    }
    require(metrics.map(_._1).distinct.size == metrics.size, "duplicate metric names")
    Json.render(Json.obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) })))
  }
}
