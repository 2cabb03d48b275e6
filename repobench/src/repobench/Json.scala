package repobench

/** Dependency-free JSON rendering for the harness's result and span files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case null            => "null"
    case s: String       => str(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number       => n.toString
    case o: Option[_]    => o.map(render).getOrElse("null")
    case m: Map[_, _]    => m.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other           => str(other.toString)
  }
}
