package graft.perfbench

/** Minimal JSON writer for the raw result file the runner script reads. */
object Json {
  sealed trait V { def render: String }
  private final case class Raw(render: String) extends V

  def num(x: Double): V = Raw(if (x.isNaN || x.isInfinite) "null" else x.toString)
  def num(x: Long): V = Raw(x.toString)
  def bool(b: Boolean): V = Raw(b.toString)
  val nul: V = Raw("null")
  def str(s: String): V = Raw("\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def arr(xs: Seq[V]): V = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def nums(xs: Iterable[Double]): V = arr(xs.map(num).toSeq)
  def obj(kv: (String, V)*): V =
    Raw(kv.map { case (k, v) => str(k).render + ":" + v.render }.mkString("{", ",", "}"))
}
