package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a codegen'd kernel call — the
  * normalize-before-fingerprint step every text-dedup pipeline needs
  * (decomposed "café" vs composed "café", full-width digits, ligatures
  * all hash differently without it, so visually-identical documents
  * escape exact AND near dedup).
  *
  * `form` is one of NFC / NFD / NFKC / NFKD (a plan-time constant: it
  * picks the algorithm, so it cannot vary per row). NFC is the
  * interchange default and matches DuckDB's `nfc_normalize` (oracle
  * q71 pins engine parity). NFKC additionally folds compatibility
  * characters (ﬁ → fi, ２３ → 23, half-width katakana) — the form
  * training-data pipelines usually want before fingerprinting.
  *
  * Cost model: the fast-path quick-check (`Normalizer.isNormalized`
  * internally) makes already-normalized ASCII/NFC text a single scan
  * with zero allocation beyond the output copy, so running it over a
  * 100 TB mostly-ASCII corpus costs one narrow codegen'd projection —
  * no shuffle, no UDF boundary.
  */
object UnicodeNormalizeExpr {

  /** [[normalize]] over a text column. */
  def apply(text: Column, form: Normalizer.Form): Column =
    Kernel.call(this, "normalize", StringType, Seq(text -> StringType),
      Seq(form))

  def normalize(u: UTF8String, form: Normalizer.Form): UTF8String =
    UTF8String.fromString(Normalizer.normalize(u.toString, form))

  /** Parse a form name (case-insensitive) — the SQL surface's second
    * argument.
    */
  def formOf(name: String): Normalizer.Form =
    name.toUpperCase match {
      case "NFC" => Normalizer.Form.NFC
      case "NFD" => Normalizer.Form.NFD
      case "NFKC" => Normalizer.Form.NFKC
      case "NFKD" => Normalizer.Form.NFKD
      case other => throw new IllegalArgumentException(
        s"unicode_normalize form must be NFC|NFD|NFKC|NFKD, got $other")
    }
}
