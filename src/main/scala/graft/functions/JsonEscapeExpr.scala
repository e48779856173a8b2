package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** `json.dumps(ensure_ascii=False)` string-content escaping as ONE
  * codegen'd pass (reference serializes JSON fields with exactly that
  * call — `columns.py:333,555`): backslash and double quote escape,
  * \b \t \n \f \r use their short forms, every other control char
  * below 0x20 becomes `\u00xx` (lowercase hex), and non-ASCII passes
  * through raw.
  *
  * Replaces an 8-step regexp_replace chain that silently let
  * U+0001-U+0007 and U+000E-U+001F through unescaped (invalid JSON
  * and a divergence from json.dumps).
  */
object JsonEscapeExpr {

  /** [[escape]] over a text column. */
  def apply(text: Column): Column =
    Kernel.call(this, "escape", StringType, Seq(text -> StringType))

  def escape(u: UTF8String): UTF8String =
    UTF8String.fromString(escape(u.toString))

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
