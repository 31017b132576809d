package graft

/** The one JSON string writer for the hand-built records (oracle SQL,
  * bench lines). */
object Json {
  /** A quoted JSON string: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab in an SQL text or a quote in a path would
    * otherwise make the reader's json.load fail on the whole record.
    */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A number with three decimals, whatever the default locale. */
  def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.US, v)
}
