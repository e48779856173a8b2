package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's row-at-a-time Python record cleaning
  * (`catalog/dags/common/storage/media.py:94-171`,
  * `catalog/dags/common/storage/columns.py:140-360`) re-expressed as
  * pure Catalyst Column expressions — columnar, codegen'd, no UDFs.
  */
object CleanFunctions {

  /** P4 — string sanitization (columns.py:145-157): double→single quote,
    * drop backspace chars, collapse whitespace runs to one space, trim.
    */
  def sanitizeString(c: Column): Column =
    trim(regexp_replace(regexp_replace(translate(c, "\"", "'"),
      "[\\x08]", ""), "\\s+", " "))

  /** P4 as ONE codegen'd pass (SanitizeStringExpr) — identical
    * semantics to [[sanitizeString]] (asserted in specs), ~3× fewer
    * string traversals on the ingest hot path.
    */
  def sanitizeStringNative(c: Column): Column = SanitizeStringExpr(c)

  /** lxml-style text-node join (see [[HtmlTextNodesExpr]]) — internal
    * whitespace preserved, entities decoded, outer strip.
    */
  def htmlTextNodes(c: Column, sep: String): Column = HtmlTextNodesExpr(c, sep)

  /** First href/src link target in an HTML fragment
    * (`wikimedia_commons.py:525-526` iterlinks()[0]).
    */
  def htmlFirstLink(c: Column): Column = HtmlTextNodesExpr.firstLink(c)

  /** `media.py:17` exact-match banned tags. */
  val tagBlacklist: Seq[String] = Seq("no person", "squareformat")

  /** `media.py:21-33` substring-banned terms — all 12 entries (note:
    * "by" bans any tag CONTAINING it — "baby" dies too; exact reference
    * semantics).
    */
  val tagContainsBlacklist: Seq[String] = Seq("flickriosapp", "uploaded",
    ":", "=", "cc0", "by", "by-nc", "by-nd", "by-sa", "by-nc-nd",
    "by-nc-sa", "pdm")

  /** `media.py:252-266` — exact or substring blacklist hit. */
  def tagBlacklisted(name: Column): Column =
    name.isin(tagBlacklist: _*) ||
      tagContainsBlacklist.map(s => name.contains(s)).reduce(_ || _)

  /** P10 — tag enrichment (`media.py:284-311`): blacklist filter, then
    * each surviving raw string becomes {name, provider}. Non-list
    * (null) input stays null.
    */
  def enrichRawTags(raw: Column, provider: Column): Column =
    when(raw.isNull,
      lit(null).cast(graft.core.Records.tagType))
      .otherwise(transform(filter(raw, t => !tagBlacklisted(t)),
        t => struct(t.as("name"), provider.as("provider"))))

  /** P10 over already-typed tag structs: pre-enriched tags pass
    * through with their provider; missing/empty providers fill from
    * ours (`_format_raw_tag`'s keep-if-complete rule).
    */
  def enrichTypedTags(tags: Column, provider: Column): Column =
    when(tags.isNull, lit(null).cast(graft.core.Records.tagType))
      .otherwise(transform(
        filter(tags, t => !tagBlacklisted(t.getField("name"))),
        t => struct(t.getField("name").as("name"),
          coalesce(nullif(t.getField("provider"), lit("")), provider)
            .as("provider"))))

  /** P8 — JSON-value sanitization (columns.py:319-358,
    * `_sanitize_json_values`): the reference recursively walks raw
    * dict/list JSON (depth cap 100) applying the P4 string sanitize to
    * every leaf. In the typed model each nesting level is a typed
    * column, so one higher-order pass per level IS that recursion. An
    * empty collection nulls out, matching `prepare_string`'s
    * `if sanitized_json else None`.
    */
  def sanitizeMapValues(m: Column): Column =
    when(size(map_entries(m)) > 0,
      transform_values(m, (_, v) => sanitizeString(v)))

  /** P8 over array<string> (the list branch of the recursion). */
  def sanitizeArrayValues(a: Column): Column =
    when(size(a) > 0, transform(a, v => sanitizeString(v)))

  /** P8 over enriched tag structs: the name leaf sanitizes, the
    * provider passes through (media.py:305-311 tag shape).
    */
  def sanitizeTagStructs(tags: Column): Column =
    when(size(tags) > 0, transform(tags, t => struct(
      sanitizeString(t.getField("name")).as("name"),
      t.getField("provider").as("provider"))))

  /** P5 — char-limit enforcement (columns.py:159-170): over-limit values
    * truncate (truncate=true) or null out (truncate=false).
    */
  def enforceCharLimit(c: Column, limit: Int, truncate: Boolean): Column =
    if (truncate) when(length(c) > limit, substring(c, 1, limit)).otherwise(c)
    else when(length(c) > limit, lit(null)).otherwise(c)

  /** P6 — integer coercion `int(float(x))` else null (columns.py:227-241).
    * Spark's try-cast chain matches: malformed → null, fractional →
    * truncated toward zero.
    */
  def coerceInt(c: Column): Column = c.cast("double").cast("int")

  /** P7 — boolean coercion (columns.py:272-289). */
  def coerceBool(c: Column): Column =
    when(lower(c.cast("string")).isin("true", "t", "1"), lit(true))
      .when(lower(c.cast("string")).isin("false", "f", "0"), lit(false))
      .otherwise(lit(null).cast("boolean"))

  /** P14 — 32-bit overflow guard (media.py:327-340): values at or above
    * 2^31-1 become null (Postgres integer columns).
    */
  def overflowGuard(c: Column): Column =
    when(c >= lit(2147483647L), lit(null)).otherwise(c)

  /** P13 — filetype from URL extension + normalization whitelist
    * (media.py:313-325, common/extensions.py). jpeg→jpg, tif→tiff; not in
    * whitelist → null.
    */
  def filetypeFromUrl(url: Column, whitelist: Seq[String]): Column = {
    val ext = lower(regexp_extract(url, "\\.([a-zA-Z0-9]+)$", 1))
    val norm = when(ext === "jpeg", "jpg").when(ext === "tif", "tiff")
      .otherwise(ext)
    when(norm.isin(whitelist: _*), norm).otherwise(lit(null))
  }

  /** P12 — source defaulting: `source = coalesce(source, provider)`
    * (media.py:143-150).
    */
  def defaultSource(source: Column, provider: Column): Column =
    coalesce(source, provider)

  /** P18 — Flickr-style raw tag string: split on whitespace (capped at
    * 2000 chars), dedupe, sort (flickr.py:313-324).
    */
  def splitRawTags(raw: Column): Column =
    array_sort(array_distinct(split(trim(substring(raw, 1, 2000)), "\\s+")))

  /** P19 — title cleanup: strip `File:` prefix and a trailing media
    * extension (wikimedia_commons.py:487-501).
    */
  def cleanTitle(c: Column): Column =
    regexp_replace(regexp_replace(c, "^File:", ""),
      "\\.(jpg|jpeg|png|gif|tiff?|svg|webp)$", "")

  /** P17 — HTML → text extraction (flickr.py:301-309 lxml xpath
    * //text()): strip tags, decode the common entities, collapse
    * whitespace. A pure regex expression (codegen'd) instead of an HTML
    * parser UDF — the reference only ever feeds it description snippets.
    */
  def htmlToText(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags, "&amp;", "&"), "&lt;", "<"), "&gt;", ">"),
      "&quot;", "\"")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** P17 as a native codegen'd kernel (HtmlToTextExpr) — identical
    * semantics to [[htmlToText]] without the six regex engine passes;
    * equality asserted in specs including entity-cascade cases.
    */
  def htmlToTextNative(c: Column): Column = HtmlToTextExpr(c)
}
