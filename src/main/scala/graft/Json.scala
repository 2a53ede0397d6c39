package graft

/** JSON text for the hand-built artifacts: `Bench`'s stdout line and
  * detail file, `Verify`'s `oracle_sql.json`.
  */
object Json {

  /** A JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in hand-written SQL or in an
    * exception message would otherwise make the driver's `json.load`
    * reject the whole document (and silently zero the round's
    * correctness or bench verdict).
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

  /** A compact JSON object of already-rendered values, in order. */
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
}
