package perfbench

import graft.JsonText.quote

/** Minimal JSON writing for the result line and the trace files; strings
  * are escaped by the program's own `graft.JsonText.quote`. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
}
