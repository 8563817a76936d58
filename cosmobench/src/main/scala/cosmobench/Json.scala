package cosmobench

/** Minimal JSON writer for the harness's raw result file. */
object Json {
  sealed trait J { def render: String }
  private final case class Raw(render: String) extends J

  def num(v: Double): J =
    Raw(if (v.isNaN || v.isInfinite) "null" else v.toString)
  def num(v: Long): J = Raw(v.toString)
  def bool(v: Boolean): J = Raw(v.toString)
  def str(s: String): J = Raw(quote(s))
  def arr(xs: Seq[J]): J = Raw(xs.map(_.render).mkString("[", ",", "]"))
  def nums(xs: Seq[Double]): J = arr(xs.map(num))
  def obj(kv: (String, J)*): J =
    Raw(kv.map { case (k, v) => quote(k) + ":" + v.render }.mkString("{", ",", "}"))

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
