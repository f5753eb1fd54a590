package perfbench

/** Minimal JSON rendering for the result record and the trace file.
  * Objects are `Seq[(String, Any)]` so keys keep their order. */
object Json {

  /** Metric names: the benchmark's naming contract. */
  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NamePattern.matches(name)

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d cannot be rendered as JSON")
      d.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass} as JSON")
  }

  /** An ordered JSON object. */
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
}
