package graft

/** JSON string escaping for the CLI status lines ([[Ingest]],
  * [[Snapshots]], [[Pipeline]], [[Audit]], [[Plans]], the bench mains).
  * The one-line-JSON scheduler contract breaks if a user-supplied path
  * containing a quote, backslash, or control character is interpolated
  * raw — escape per RFC 8259 (the two mandatory characters plus control
  * chars as \u00XX).
  */
private[graft] object CliJson {
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.result()
  }
}
