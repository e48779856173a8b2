package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** lxml-style HTML text-node extraction, the exact semantics of the
  * reference's `" ".join(html.fromstring(x).xpath("//text()")).strip()`
  * idiom (`flickr.py:301-309` description cleanup) and the `"".join`
  * variant used for Wikimedia artist strings
  * (`wikimedia_commons.py:513-527`).
  *
  * This is DIFFERENT from [[HtmlToTextExpr]] (P17's regex-chain
  * semantics): here internal whitespace is PRESERVED — text nodes are
  * taken verbatim (entities decoded), joined with `sep`, and only the
  * OUTER whitespace is stripped. `<b>Titel(s): </b>Allegorie` must
  * yield `"Titel(s):  Allegorie"` with the double space, as the
  * reference's own expected fixtures pin down.
  *
  * One pass, no regex: a quote-aware tag scanner (a `>` inside a quoted
  * attribute value does not close the tag, comments skip to `-->`)
  * collects the non-empty character-data runs between tags — exactly
  * lxml's text nodes for the flat markup these fields carry.
  */
object HtmlTextNodesExpr {

  /** [[textJoin]] over an HTML column, nodes joined with `sep`. */
  def apply(html: Column, sep: String): Column =
    Kernel.call(this, "textJoin", StringType,
      Seq(html -> StringType, lit(sep) -> StringType))

  /** [[firstLinkHref]] over an HTML column: null when the markup
    * carries no link.
    */
  def firstLink(html: Column): Column =
    Kernel.call(this, "firstLinkHref", StringType, Seq(html -> StringType),
      returnNullable = true)

  def textJoin(html: UTF8String, sep: UTF8String): UTF8String =
    UTF8String.fromString(textJoin(html.toString, sep.toString))

  def firstLinkHref(html: UTF8String): UTF8String = {
    val r = firstLinkHref(html.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  /** Decode the character-reference set lxml resolves in practice for
    * these fields. Single left-to-right pass, so `&amp;lt;` decodes to
    * the literal text `&lt;` (standard HTML semantics), not `<`.
    */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val rest = s.length - i
        def is(lit: String): Boolean =
          rest >= lit.length && s.regionMatches(i, lit, 0, lit.length)
        if (is("&amp;")) { sb.append('&'); i += 5 }
        else if (is("&lt;")) { sb.append('<'); i += 4 }
        else if (is("&gt;")) { sb.append('>'); i += 4 }
        else if (is("&quot;")) { sb.append('"'); i += 6 }
        else if (is("&apos;")) { sb.append('\''); i += 6 }
        else if (is("&nbsp;")) { sb.append('\u00a0'); i += 6 }
        else if (rest >= 4 && s.charAt(i + 1) == '#') {
          // numeric reference &#NNN; / &#xHH;
          val semi = s.indexOf(';', i + 2)
          val body = if (semi > 0 && semi - i <= 10) s.substring(i + 2, semi) else ""
          val cp =
            try {
              if (body.nonEmpty && (body.charAt(0) == 'x' || body.charAt(0) == 'X'))
                Integer.parseInt(body.substring(1), 16)
              else if (body.nonEmpty) Integer.parseInt(body, 10)
              else -1
            } catch { case _: NumberFormatException => -1 }
          if (cp >= 0 && Character.isValidCodePoint(cp)) {
            sb.appendCodePoint(cp); i = semi + 1
          } else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** End index (exclusive) of the tag starting at `open` (points at '<'),
    * or -1 if it never closes (the '<' is then literal text).
    */
  private def tagEnd(s: String, open: Int): Int = {
    // comment: skip to -->
    if (s.regionMatches(open, "<!--", 0, 4)) {
      val close = s.indexOf("-->", open + 4)
      return if (close < 0) -1 else close + 3
    }
    var i = open + 1
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '>') return i + 1
      i += 1
    }
    -1
  }

  /** All text nodes (non-empty character-data runs between tags),
    * entity-decoded, in document order.
    */
  def textNodes(s: String): Seq[String] = {
    val nodes = Vector.newBuilder[String]
    val seg = new java.lang.StringBuilder
    def flush(): Unit =
      if (seg.length() > 0) { nodes += decodeEntities(seg.toString); seg.setLength(0) }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        val end = tagEnd(s, i)
        if (end < 0) { seg.append(c); i += 1 }
        else { flush(); i = end }
      } else { seg.append(c); i += 1 }
    }
    flush()
    nodes.result()
  }

  def textJoin(html: String, sep: String): String =
    textNodes(html).mkString(sep).trim

  /** First link target in document order — the reference's
    * `list(artist_elem.iterlinks())[0][2]` (`wikimedia_commons.py:525-526`):
    * the first `href`/`src` attribute value, entity-decoded. Null when
    * the markup carries no link.
    */
  def firstLinkHref(html: String): String = {
    var i = html.indexOf('<')
    while (i >= 0) {
      val end = tagEnd(html, i)
      if (end < 0) return null
      val tag = html.substring(i, end)
      val m = linkAttr.matcher(tag)
      if (m.find()) return decodeEntities(m.group(2))
      i = html.indexOf('<', end)
    }
    null
  }

  private val linkAttr = java.util.regex.Pattern.compile(
    "(?i)\\b(?:href|src)\\s*=\\s*([\"'])(.*?)\\1")
}
