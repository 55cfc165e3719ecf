package graft.perfbench

/** Minimal JSON rendering for the harness's result files. */
object Json {

  /** A value that is already rendered JSON text. */
  final case class Raw(text: String)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => s"${str(k)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => str(other.toString)
  }

  /** An object with its keys in the given order. */
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
