package e2ebench

/** Minimal JSON writer for the run's result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => value(f.toDouble)
    case n: Number           => n.toString
    case o: Option[_]        => o.map(value).getOrElse("null")
    case m: Map[_, _]        => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
                                  .mkString("{", ",", "}")
    case s: Iterable[_]      => s.map(value).mkString("[", ",", "]")
    case a: Array[_]         => value(a.toSeq)
    case other               => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    value(scala.collection.immutable.ListMap(fields: _*))
}
