package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The DISTINCT k-word shingles of a text that MIGHT be in a broadcast
  * Bloom filter, as ONE codegen'd per-row loop returning
  * `array<string>` — the decontamination prefilter that keeps the
  * corpus-side shingle explode from ever materializing non-hit rows.
  *
  * The exploded plan ([[graft.operators.Dedupe.shingleRowsAll]] joined
  * against the broadcast benchmark set) builds one row PER CORPUS
  * SHINGLE — |corpus tokens| UnsafeRows, each probing the broadcast
  * hash relation — when virtually every probe misses (a clean corpus
  * shares almost nothing with a benchmark suite). This expression walks
  * the document's word boundaries once, dedups shingles in-row, probes
  * the Bloom filter on raw byte slices, and emits ONLY the matches;
  * rows materialize per HIT, so a zero-contamination corpus explodes
  * zero rows. Bloom false positives (never negatives) make the output
  * a superset of the true hits — callers MUST re-join the emitted
  * shingles against the exact benchmark set, which restores exactness
  * (the same contract as [[BloomMightContainExpr]] join pruning).
  *
  * Tokenization parity with [[graft.operators.Dedupe.shingleRowsAll]]
  * and [[MinHashSigExpr]]: words split on single 0x20 bytes keeping
  * empty tokens; the shingle at word position i is words i..i+k-1
  * joined by one space — byte-identical to the contiguous slice of the
  * text between those boundaries, so no string is rebuilt until a
  * shingle actually matches. Documents with fewer than k words return
  * an empty array; NULL text returns NULL (explode then drops the row,
  * matching the exploded form).
  *
  * The filter ships once per executor as a broadcast reference object;
  * probes use `mightContainBinary`, bit-compatible with
  * `DataFrame.stat.bloomFilter`'s string insertion path.
  */
object ShingleHitsExpr {

  /** [[hits]] over a text column against a broadcast filter. */
  def apply(text: Column, k: Int, bloom: Broadcast[BloomFilter]): Column = {
    require(k >= 1, s"shingle_hits needs k >= 1, got k=$k")
    Kernel.call(this, "hits", ArrayType(StringType, containsNull = false),
      Seq(text -> StringType), Seq(k, bloom))
  }

  def hits(u: UTF8String, k: Int, bloom: Broadcast[BloomFilter]): ArrayData =
    hits(u, k, bloom.value)

  private val Empty = new GenericArrayData(Array.empty[Any])

  def hits(u: UTF8String, k: Int, bloom: BloomFilter): ArrayData = {
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
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    val last = nw - k
    while (i <= last) {
      val s0 = st(i)
      // end of word i+k-1: one byte before the next word's start,
      // or end-of-text for the final shingle
      val e = if (i + k < nw) st(i + k) - 1 else n
      if (seen.add(java.nio.ByteBuffer.wrap(bytes, s0, e - s0))) {
        val slice = java.util.Arrays.copyOfRange(bytes, s0, e)
        if (bloom.mightContainBinary(slice))
          out += UTF8String.fromBytes(slice)
      }
      i += 1
    }
    if (out.isEmpty) Empty else new GenericArrayData(out.toArray)
  }
}
