package graftbench

/** The few JSON shapes the harness writes; strings are escaped by the
  * library's own `graft.Json.str`. */
object Json {
  def str(s: String): String = graft.Json.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def num(v: Int): String = v.toString
  def bool(v: Boolean): String = v.toString
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")
}
