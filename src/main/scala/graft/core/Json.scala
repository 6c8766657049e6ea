package graft.core

object Json {

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in oracle SQL or an exception message
    * would otherwise make the reader's json.load fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
