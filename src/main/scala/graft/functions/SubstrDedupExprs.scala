package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel pair for exact duplicate-substring removal
  * ([[graft.operators.Dedupe.exactSubstrDedup]], the ExactSubstr
  * operator of Lee et al. 2022, arXiv:2107.06499).
  *
  * Positions are 1-based Unicode CODEPOINT indices — the unit DuckDB's
  * `substr` and Spark's `substring` both count, so a position computed
  * here selects the same window in the oracle SQL.
  */
object SubstrDedupExprs

/** Rolling 64-bit hashes of every L-codepoint window of a text, as ONE
  * codegen'd per-row loop returning `array<long>` (index i = window at
  * codepoint position i+1). Texts shorter than L return an EMPTY array.
  *
  * Polynomial rolling hash in wrapping long arithmetic (base 1000003;
  * h(p+1) = (h(p) − c_p·B^(L−1))·B + c_{p+L−1}) — deterministic and
  * O(1) per position. Collisions are harmless: the consumer re-verifies
  * candidate windows on the REAL substring before any removal, so hash
  * quality affects candidate volume only, never results.
  */
object GramHashesExpr {

  /** [[gramHashes]] over a text column. */
  def apply(text: Column, length: Int): Column = {
    require(length >= 2, s"gram_hashes needs length >= 2, got $length")
    Kernel.call(this, "gramHashes", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), Seq(length))
  }

  private val Empty = new GenericArrayData(Array.empty[Long])
  final val Base = 1000003L

  def gramHashes(u: UTF8String, gramLen: Int): ArrayData = {
    val s = u.toString
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < gramLen) return Empty
    var pow = 1L
    var i = 0
    while (i < gramLen - 1) { pow *= Base; i += 1 }
    val out = new Array[Long](n - gramLen + 1)
    var h = 0L
    i = 0
    while (i < gramLen) { h = h * Base + cps(i); i += 1 }
    out(0) = h
    var p = 1
    while (p <= n - gramLen) {
      h = (h - cps(p - 1) * pow) * Base + cps(p + gramLen - 1)
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** Remove the union of the L-codepoint windows starting at `starts`
  * (SORTED, 1-based codepoint positions) from a text and stitch the
  * remainder: returns struct(clean_text, n_spans, removed_chars).
  * Runs of starts with successive gap ≤ L merge into one span (their
  * removed intervals overlap or touch). An empty `starts` returns the
  * text unchanged with zero spans.
  *
  * One O(len) pass per row via a static call (same fused-loop shape as
  * the other text expressions); the per-row cost is the string
  * assembly itself, so there is nothing corpus-sized to push further
  * down.
  */
object CutSpansExpr {

  /** [[cutSpans]] over a text column and its sorted window starts. */
  def apply(text: Column, starts: Column, length: Int): Column = {
    require(length >= 2, s"cut_spans needs length >= 2, got $length")
    Kernel.call(this, "cutSpans", StructType(Seq(
        StructField("clean_text", StringType, nullable = false),
        StructField("n_spans", LongType, nullable = false),
        StructField("removed_chars", LongType, nullable = false))),
      Seq(text -> StringType, starts -> ArrayType(IntegerType)),
      Seq(length))
  }

  def cutSpans(u: UTF8String, startsArr: ArrayData, gramLen: Int)
      : InternalRow = {
    val m = startsArr.numElements()
    if (m == 0)
      return new GenericInternalRow(Array[Any](u, 0L, 0L))
    val starts = startsArr.toIntArray()
    val s = u.toString
    // codepoint index -> Java char offset (identity for BMP-only text)
    val ncp = s.codePointCount(0, s.length)
    val charAt = new Array[Int](ncp + 1)
    var ci = 0
    var cp = 0
    while (cp < ncp) { charAt(cp) = ci; ci += Character.charCount(s.codePointAt(ci)); cp += 1 }
    charAt(ncp) = s.length
    val sb = new java.lang.StringBuilder(s.length)
    var nSpans = 0L
    var removed = 0L
    var keptFrom = 1              // 1-based codepoint, inclusive
    var spanStart = starts(0)
    var spanEnd = starts(0) + gramLen  // [spanStart, spanEnd) 1-based
    var i = 1
    def flush(): Unit = {
      if (spanStart > keptFrom)
        sb.append(s, charAt(keptFrom - 1), charAt(spanStart - 1))
      nSpans += 1
      removed += spanEnd - spanStart
      keptFrom = spanEnd
    }
    while (i < m) {
      val p = starts(i)
      if (p - starts(i - 1) > gramLen) { // new island: gap > L
        spanEnd = starts(i - 1) + gramLen
        flush()
        spanStart = p
      }
      i += 1
    }
    spanEnd = starts(m - 1) + gramLen
    flush()
    if (keptFrom <= ncp)
      sb.append(s, charAt(keptFrom - 1), charAt(ncp))
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), nSpans, removed))
  }
}
