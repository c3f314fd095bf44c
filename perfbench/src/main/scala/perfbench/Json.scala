package perfbench

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  /** Already-rendered JSON, inserted verbatim. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case Raw(j)       => j
    case null | None  => "null"
    case Some(x)      => value(x)
    case b: Boolean   => b.toString
    case d: Double    => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float     => value(f.toDouble)
    case n: Int       => n.toString
    case n: Long      => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case s            => quote(s.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

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
}
