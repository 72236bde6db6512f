package graft

/** JSON string escaping shared by the two driver-facing mains — backslash,
  * quote, and ALL control chars (<0x20): a tab or CR in builder-authored
  * SQL or an exotic sfDir would otherwise make the driver's json.load fail
  * and silently zero the round. */
object JsonText {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A number as the artifacts print it: 3 decimals under Locale.ROOT —
    * the f-interpolator uses the JVM default locale, which under e.g.
    * de_DE renders "87,487", invalid JSON. */
  def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
