package graft

/** JSON text helpers for the mains' hand-assembled output lines. */
object Json {
  /** A JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20). A tab or CR in a key or in builder-authored SQL
    * would otherwise make a consumer's json.load fail. */
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
