package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The DISTINCT k-word shingle set of a text as ONE codegen'd per-row
  * loop returning `array<string>` — zero explode, zero shuffle.
  *
  * This is the exact-verification sibling of [[MinHashSigExpr]] (same
  * tokenization walk: words split on single 0x20 bytes keeping empty
  * tokens, shingle i = the contiguous byte slice spanning words
  * i..i+k-1 — byte-identical to `concat_ws(" ", ...)` over
  * `split(text, " ")`, so the values match the exploded form and the
  * DuckDB oracle). It replaces the shingle-explode + collect_set
  * aggregation in the candidate-verify stage: at sf0.1 the LSH
  * candidates span ~85% of the corpus, so that explode shuffled ~2M
  * shingle rows per execution (measured 3-6s) just to fold them back
  * into per-doc arrays this expression builds in-row (~0.3s).
  *
  * Element order is first occurrence; set consumers (array_intersect,
  * size) are order-insensitive. Documents with fewer than k words
  * return an EMPTY array (the aggregation form emits no row — callers
  * filter `size(...) > 0` for identical frames).
  */
object ShingleSetExpr {

  /** [[shingleSet]] over a text column. */
  def apply(text: Column, k: Int): Column = {
    require(k >= 1, s"shingle_set needs k >= 1, got k=$k")
    Kernel.call(this, "shingleSet",
      ArrayType(StringType, containsNull = false),
      Seq(text -> StringType), Seq(k))
  }

  private val Empty = new GenericArrayData(Array.empty[Any])

  def shingleSet(u: UTF8String, k: Int): ArrayData = {
    val bytes = u.getBytes
    val n = bytes.length
    // word start offsets: a word begins at 0 and after every 0x20
    // (0x20 never occurs inside a multi-byte UTF-8 sequence)
    val starts = new scala.collection.mutable.ArrayBuilder.ofInt
    starts += 0
    var p = 0
    while (p < n) {
      if (bytes(p) == 0x20) starts += p + 1
      p += 1
    }
    val st = starts.result()
    val nw = st.length
    if (nw < k) return Empty

    val seen = new java.util.HashSet[java.nio.ByteBuffer]()
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[AnyRef]
    var i = 0
    val last = nw - k
    while (i <= last) {
      val s0 = st(i)
      val e = if (i + k < nw) st(i + k) - 1 else n
      if (seen.add(java.nio.ByteBuffer.wrap(bytes, s0, e - s0)))
        out += UTF8String.fromBytes(bytes, s0, e - s0)
      i += 1
    }
    new GenericArrayData(out.result())
  }
}
