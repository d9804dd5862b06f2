package perfbench

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite JSON number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] => m.map(value).mkString("[", ",", "]")
    case o: Obj => o.render
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  final case class Obj(fields: Seq[(String, Any)]) {
    def render: String =
      fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  }

  def obj(fields: Seq[(String, Any)]): String = Obj(fields).render
}
