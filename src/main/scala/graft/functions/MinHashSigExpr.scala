package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over k-word shingles as ONE codegen'd per-row
  * loop returning `array<long>` of `numHashes` minima — zero explode,
  * zero shuffle for the signature stage.
  *
  * This replaces the shingle-explode + groupBy-doc plan
  * ([[graft.operators.Dedupe.minhashWide]]): at sf0.1 the explode form
  * materializes ~3M (doc, shingle) rows and shuffles a corpus-scale
  * aggregation just to reduce per-document minima — a per-row
  * reduction, exactly the shape [[SimHashExpr]] and
  * [[WinnowFingerprintsExpr]] already moved into the row. Corpus
  * parallelism comes from partitioning, which is the right axis at
  * 100 TB; the only shuffle left in the LSH dedup pipeline is the
  * band-signature join itself.
  *
  * Hash parity (oracle-exact, same math as `minhashWideFromShingles`):
  * tokenization splits on single 0x20 bytes keeping empty tokens
  * (`split(text, " ")` / DuckDB `string_split`); the shingle at word
  * position i is words i..i+k-1 joined by a single space — which is
  * byte-identical to the contiguous slice of the original text between
  * those word boundaries, so md5 consumes raw byte slices with no
  * string rebuilding. The base hash h is the integer value of md5's
  * first 7 hex chars (the digest's top 28 bits); the t-th signature
  * entry is min over shingles of ((2t+1)·h + (104729·t+12345)) mod
  * (2^31-1). Duplicate shingles are skipped via a ByteBuffer set
  * (min() is duplicate-insensitive, and the set test is cheaper than
  * md5 — an optimization the exploded form could not express).
  *
  * Documents with fewer than k words return an EMPTY array (the
  * groupBy form emits no row for them; callers filter `size(sig) > 0`
  * for identical frames).
  *
  * `withCount = true` appends the DISTINCT shingle count as one extra
  * trailing element (index numHashes+1, 1-based) — free here (the
  * dedup set's size), expensive anywhere else (a second text scan or a
  * corpus-wide distinct). Band slicing reads indices 1..numHashes and
  * never sees it; consumers that compare whole signatures (zip_with
  * agreement estimates) must NOT enable it. The count feeds the
  * verify-prune: exact Jaccard of sets sized a ≤ b is at most a/b
  * (intersection ≤ a, union ≥ b), so a candidate pair whose size ratio
  * is below the verify threshold cannot pass and is dropped before any
  * shingle set is built.
  */
object MinHashSigExpr {

  /** [[sig]] over a text column. */
  def apply(text: Column, k: Int, numHashes: Int,
      withCount: Boolean = false): Column = {
    require(k >= 1 && numHashes >= 1,
      s"minhash_sig needs k >= 1 and numHashes >= 1, got k=$k n=$numHashes")
    Kernel.call(this, "sig", ArrayType(LongType, containsNull = false),
      Seq(text -> StringType), Seq(k, numHashes, withCount))
  }

  private val Empty = new GenericArrayData(Array.empty[Long])

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Affine permutation modulus (2^31-1, prime) — mirrors
    * [[graft.operators.Dedupe.MinhashP]].
    */
  final val P = 2147483647L

  def sig(u: UTF8String, k: Int, numHashes: Int): ArrayData =
    sig(u, k, numHashes, withCount = false)

  def sig(u: UTF8String, k: Int, numHashes: Int, withCount: Boolean)
      : ArrayData = {
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

    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    val md = mdLocal.get()
    val seen = new java.util.HashSet[java.nio.ByteBuffer]()
    var i = 0
    val last = nw - k
    while (i <= last) {
      val s0 = st(i)
      // end of word i+k-1: one byte before the next word's start,
      // or end-of-text for the final shingle
      val e = if (i + k < nw) st(i + k) - 1 else n
      if (seen.add(java.nio.ByteBuffer.wrap(bytes, s0, e - s0))) {
        md.reset()
        md.update(bytes, s0, e - s0)
        val d = md.digest()
        // first 7 hex chars of the md5 = the digest's top 28 bits
        val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
          ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
        var t = 0
        while (t < numHashes) {
          val v = ((2L * t + 1) * h + (104729L * t + 12345L)) % P
          if (v < out(t)) out(t) = v
          t += 1
        }
      }
      i += 1
    }
    if (!withCount) new GenericArrayData(out)
    else {
      val withC = java.util.Arrays.copyOf(out, numHashes + 1)
      withC(numHashes) = seen.size().toLong
      new GenericArrayData(withC)
    }
  }
}
