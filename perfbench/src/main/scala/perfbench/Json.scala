package perfbench

/** The few JSON encodings the report needs. */
object Json {

  /** A number with all its digits; NaN and infinities become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** `{"name": {"value": v, "unit": u}, ...}` */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}")
}
