package graft.perfbench

/** Minimal JSON writer for the report lines (numbers keep every digit
  * `Double.toString` gives; output is locale-independent).
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null                     => "null"
    case d: Double                => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long)   => n.toString
    case b: Boolean               => b.toString
    case s: String                => str(s)
    case Raw(j)                   => j
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) })
    case s: Iterable[_]           => s.map(value).mkString("[", ",", "]")
    case other                    => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-rendered JSON. */
  final case class Raw(json: String)
}
