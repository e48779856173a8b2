package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Byte-exact TSV row serialization — the write side of the staging
  * boundary, reproducing the reference's `columns.py prepare_string`
  * conventions character for character (verified in TsvRowSpec against
  * the reference's own expected rows from test_audio.py):
  *
  *  - strings: `__sanitize_string` (quotes→', backspace dropped,
  *    backslashes doubled, whitespace runs collapsed) — columns.py:145-157
  *  - ints/bools: stringified, `t`/`f` — columns.py:227-289
  *  - JSON columns: `json.dumps` style `{"k": "v", ...}` with
  *    space-after-colon separators and EVERY leaf stringified
  *    (`_sanitize_json_values` coerces ints too) — columns.py:319-358
  *  - arrays: `{"a", "b"}` PG literal with json.dumps element encoding
  *    and comma-space separators — columns.py:534-556
  *  - nulls: `\N`
  */
object TsvRow {

  val NullMarker = "\\N"

  /** `columns.py __sanitize_string` — NOTE the backslash doubling,
    * which the in-engine P4 sanitize deliberately omits (Spark's CSV
    * writer handles escaping there; THIS path writes raw lines).
    */
  def sanitizeTsv(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(translate(c, "\"", "'"), "[\\x08]", ""),
        "\\\\", "\\\\\\\\"),
      "\\s+", " "))

  /** JSON string literal with json.dumps(ensure_ascii=False)
    * escaping (backslash, quote, ALL control chars below 0x20 — short
    * forms for \\b \\f \\n \\r \\t, `\\u00xx` for the rest): one
    * codegen'd pass via [[graft.functions.JsonEscapeExpr]] instead of a
    * regexp_replace chain, and safe for arbitrary input (the old chain
    * let U+0001-U+0007 / U+000E-U+001F through raw — invalid JSON,
    * diverging from json.dumps).
    */
  def jsonStr(c: Column): Column =
    concat(lit("\""), graft.functions.JsonEscapeExpr(c), lit("\""))

  /** json.dumps-style object from (key, pre-encoded value) pairs —
    * `{"k": v, "k2": v2}`; null-valued keys drop; empty → null
    * (prepare_string's falsy→None).
    */
  def jsonObject(entries: Seq[(String, Column)]): Column = {
    val parts = entries.map { case (k, v) =>
      when(v.isNotNull, concat(lit("\"" + k + "\": "), v))
    }
    val joined = array_join(filter(array(parts: _*), _.isNotNull), ", ")
    when(joined === "", lit(null).cast("string"))
      .otherwise(concat(lit("{"), joined, lit("}")))
  }

  /** JSON object from a map<string,string> column (key order = map
    * entry order; leaves stringified+escaped).
    */
  def jsonFromMap(m: Column): Column = {
    val parts = transform(map_entries(m), e =>
      concat(jsonStr(e.getField("key")), lit(": "),
        jsonStr(e.getField("value"))))
    when(m.isNull || size(map_entries(m)) === 0,
      lit(null).cast("string"))
      .otherwise(concat(lit("{"), array_join(parts, ", "), lit("}")))
  }

  /** ArrayColumn PG literal: `{"a", "b"}`; empty list → `{}` (the
    * reference's `"{" + dumps([])[1:-1] + "}"`), null → null.
    */
  def pgTextArray(arr: Column): Column =
    when(arr.isNull, lit(null).cast("string"))
      .otherwise(concat(lit("{"),
        array_join(transform(arr, jsonStr(_)), ", "), lit("}")))

  /** alt_files JSON: list of objects with url/filesize/bit_rate/
    * sample_rate keys, every value stringified (audio.py:130-144 shape
    * through the JSON sanitize).
    */
  def altFilesJson(altFiles: Column): Column = {
    val objs = transform(altFiles, f => concat(lit("{"),
      array_join(filter(array(
        when(f.getField("url").isNotNull,
          concat(lit("\"url\": "), jsonStr(f.getField("url")))),
        when(f.getField("filesize").isNotNull,
          concat(lit("\"filesize\": "),
            jsonStr(f.getField("filesize").cast("string")))),
        when(f.getField("bit_rate").isNotNull,
          concat(lit("\"bit_rate\": "),
            jsonStr(f.getField("bit_rate").cast("string")))),
        when(f.getField("sample_rate").isNotNull,
          concat(lit("\"sample_rate\": "),
            jsonStr(f.getField("sample_rate").cast("string"))))),
        _.isNotNull), ", "),
      lit("}")))
    when(altFiles.isNull || size(altFiles) === 0,
      lit(null).cast("string"))
      .otherwise(concat(lit("["), array_join(objs, ", "), lit("]")))
  }

  /** audio_set JSON (the set subrecord dict shape:
    * audio_set/set_url/set_position/set_thumbnail, values stringified).
    */
  def audioSetJson(title: Column, setUrl: Column, setPosition: Column,
      setThumbnail: Column): Column =
    jsonObject(Seq(
      "audio_set" -> when(title.isNotNull, jsonStr(title)),
      "set_url" -> when(setUrl.isNotNull, jsonStr(setUrl)),
      "set_position" -> when(setPosition.isNotNull,
        jsonStr(setPosition.cast("string"))),
      "set_thumbnail" -> when(setThumbnail.isNotNull,
        jsonStr(setThumbnail))))

  /** Enriched tags JSON: `[{"name": "...", "provider": "..."}, ...]`
    * (list-of-dicts through json.dumps; empty → null).
    */
  def tagsJson(tags: Column): Column = {
    val objs = transform(tags, t => concat(lit("{"),
      array_join(filter(array(
        when(t.getField("name").isNotNull,
          concat(lit("\"name\": "), jsonStr(t.getField("name")))),
        when(t.getField("provider").isNotNull,
          concat(lit("\"provider\": "), jsonStr(t.getField("provider"))))),
        _.isNotNull), ", "),
      lit("}")))
    when(tags.isNull || size(tags) === 0, lit(null).cast("string"))
      .otherwise(concat(lit("["), array_join(objs, ", "), lit("]")))
  }

  def intStr(c: Column): Column = c.cast("long").cast("string")

  def boolStr(c: Column): Column =
    when(c === true, "t").when(c === false, "f")

  /** Assemble the audio v001 TSV line from pre-serialized columns, in
    * tsv_columns.py order, nulls as `\N`.
    */
  def line(cols: Seq[Column]): Column =
    concat_ws("\t", cols.map(coalesce(_, lit(NullMarker))): _*)
}
