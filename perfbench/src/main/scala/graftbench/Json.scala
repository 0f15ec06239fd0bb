package graftbench

/** Minimal JSON rendering for the benchmark's records (no parser needed:
  * inputs are read with the Jackson that ships with Spark). */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
