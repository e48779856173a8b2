package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** P4 string sanitization as one codegen'd kernel call —
  * ONE pass over the string instead of the translate + 2×regexp_replace
  * chain (3 passes, 2 regex engines) in CleanFunctions.sanitizeString.
  *
  * Semantics are byte-for-byte identical to the regex chain
  * (columns.py:145-157 reference semantics): double→single quote,
  * backspace dropped, `\s` runs ([ \t\n\x0B\f\r]) collapsed to one
  * space, leading/trailing whitespace trimmed. Equality with the regex
  * form is asserted in specs over the reference fixtures.
  */
object SanitizeStringExpr {

  /** [[clean]] over a text column. */
  def apply(text: Column): Column =
    Kernel.call(this, "clean", StringType, Seq(text -> StringType))

  def clean(u: UTF8String): UTF8String =
    UTF8String.fromString(clean(u.toString))

  /** Exactly the regex `\s` class (NOT Character.isWhitespace, which
    * also matches U+001C-1F and not U+000B consistently across
    * definitions).
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  def clean(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\u0008') () // drop backspace
      else if (isWs(c)) pendingSpace = sb.length() > 0 // trim leading
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(if (c == '"') '\'' else c)
      }
      i += 1
    }
    sb.toString // trailing run never flushed → trimmed
  }
}
