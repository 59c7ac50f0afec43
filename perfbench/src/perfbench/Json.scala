package perfbench

/** Just enough JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.json
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** Already-rendered JSON. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
