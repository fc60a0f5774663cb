package perfbench

/** A minimal JSON writer for the benchmark's records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }

  def value(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case b: Boolean                => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                 => java.lang.Double.toString(d)
    case f: Float                  => value(f.toDouble)
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case Some(x)                   => value(x)
    case None                      => "null"
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]           => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_]              => xs.map(value).mkString("[", ",", "]")
    case other                     => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
