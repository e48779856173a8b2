package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03) as a
  * native codegen'd expression: `winnow(text, k, w)` returns the
  * DISTINCT set of sliding-window minima over rolling k-gram hashes as
  * `array<long>` — computed in ONE O(len) pass per document with O(w)
  * state, entirely inside the row.
  *
  * This replaces a per-character `posexplode` + per-doc window plan
  * that amplified shuffle bytes ~30-50× and pinned ALL of a document's
  * characters in a single task (winnowing is sequential *within* a doc,
  * so the window form cannot parallelize it either — it just pays a
  * full shuffle+sort for the privilege). Here a 1 GB document is one
  * row and one loop; corpus parallelism comes from Spark's row
  * partitioning, which is the right axis.
  *
  * Hash parity (oracle-exact): the k-gram hash at position p is
  * `sum_j codepoint(t[p+j]) * 31^(k-1-j)` — identical values to the
  * previous window-lead formulation and to the DuckDB oracle's
  * explicit polynomial, updated here in O(1) per position via the
  * rolling recurrence `h' = (h - c_out * 31^(k-1)) * 31 + c_in` (exact
  * in 64-bit ring arithmetic). Window minima over `w` consecutive
  * hashes come from a monotonic deque (amortized O(1)); values are
  * deduped in insertion order, so `explode` of the result IS the
  * distinct (doc, fp) set for unique doc ids.
  *
  * Documents shorter than k + w - 1 code points yield an empty array.
  */
object WinnowFingerprintsExpr {

  /** [[winnow]] over a text column. */
  def apply(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"winnow needs k >= 1 and w >= 1, got k=$k w=$w")
    Kernel.call(this, "winnow", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), Seq(k, w))
  }

  def winnow(u: UTF8String, k: Int, w: Int): ArrayData =
    winnow(u.toString, k, w)

  private val Empty = new GenericArrayData(Array.empty[Long])

  /** One pass: rolling polynomial hash + monotonic-deque window min +
    * insertion-order dedup. Operates on CODE POINTS (not UTF-16 units)
    * for parity with Spark's `split(t, "")`/`length` and DuckDB's
    * `substr`/`ord`/`length`, all of which are code-point based.
    */
  def winnow(s: String, k: Int, w: Int): ArrayData = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k + w - 1) return Empty
    val m = n - k + 1 // number of k-gram hashes

    var top = 1L // 31^(k-1), exact
    var j = 1
    while (j < k) { top *= 31L; j += 1 }
    var h = 0L // hash of the first k-gram
    j = 0
    while (j < k) { h = h * 31L + cps(j); j += 1 }

    // monotonic min-deque over the last w hashes (ring buffer, cap w+1)
    val cap = w + 1
    val qIdx = new Array[Int](cap)
    val qVal = new Array[Long](cap)
    var head = 0
    var cnt = 0

    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuilder.ofLong

    var i = 0
    var cur = h
    while (i < m) {
      if (i > 0) cur = (cur - cps(i - 1) * top) * 31L + cps(i + k - 1)
      // drop tail entries that can never be a future minimum
      while (cnt > 0 && qVal((head + cnt - 1) % cap) >= cur) cnt -= 1
      qIdx((head + cnt) % cap) = i
      qVal((head + cnt) % cap) = cur
      cnt += 1
      // expire the front once it leaves the window [i - w + 1, i]
      if (qIdx(head) <= i - w) { head = (head + 1) % cap; cnt -= 1 }
      if (i >= w - 1) {
        val fp = qVal(head)
        if (seen.add(fp)) out += fp
      }
      i += 1
    }
    new GenericArrayData(out.result())
  }
}
