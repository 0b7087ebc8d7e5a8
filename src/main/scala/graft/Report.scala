package graft

/** Text helpers for the mains' JSON artifacts. */
object Report {
  /** `s` as a JSON string literal: backslash, quote, and ALL control
    * chars (<0x20) escaped — a tab or CR in oracle SQL or an exception
    * message would otherwise make a reader's `json.load` fail on the
    * whole artifact.
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

  /** A throwable as "Class: first line of its message" (message cut to
    * 200 chars), the form every artifact's `errors` entry takes.
    */
  def error(e: Throwable): String = e.getClass.getSimpleName +
    Option(e.getMessage).map(m => ": " + m.linesIterator.nextOption().getOrElse("").take(200))
      .getOrElse("")
}
