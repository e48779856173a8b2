package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** P17 HTML→text as one codegen'd kernel call. The Column
  * form (CleanFunctions.htmlToText) runs SIX regex passes (tag strip,
  * four entity decodes, whitespace collapse); this replaces the regex
  * engines with two single-pass scans plus four literal replaces —
  * byte-identical output, asserted against the regex chain in specs
  * (including the cascade case: `&amp;lt;` decodes to `<` because the
  * amp pass runs before the lt pass, exactly like the chain).
  *
  * Reference semantics: `wikimedia_commons.py` description cleanup /
  * the loader's HTML-bearing description fields.
  */
object HtmlToTextExpr {

  /** [[clean]] over a text column. */
  def apply(html: Column): Column =
    Kernel.call(this, "clean", StringType, Seq(html -> StringType))

  def clean(u: UTF8String): UTF8String =
    UTF8String.fromString(clean(u.toString))

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  def clean(s: String): String = {
    // pass 1: `<[^>]*>` → one space; an unclosed `<` stays literal
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val close = s.indexOf('>', i + 1)
        if (close >= 0) { sb.append(' '); i = close }
        else sb.append(c)
      } else sb.append(c)
      i += 1
    }
    // passes 2-5: entity decode in CHAIN ORDER (amp first → cascades)
    var t = sb.toString
    t = t.replace("&amp;", "&")
    t = t.replace("&lt;", "<")
    t = t.replace("&gt;", ">")
    t = t.replace("&quot;", "\"")
    // pass 6: `\s+` → one space, trimmed
    val out = new java.lang.StringBuilder(t.length)
    var pendingSpace = false
    var j = 0
    while (j < t.length) {
      val c = t.charAt(j)
      if (isWs(c)) pendingSpace = out.length() > 0
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      j += 1
    }
    out.toString
  }
}
