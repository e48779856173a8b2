package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over the DISTINCT space-separated words of a text
  * column, as ONE codegen'd per-row loop returning the 16-hex-char
  * string.
  *
  * This replaces a plan that exploded 64 rows PER DISTINCT WORD
  * (word explode × bit explode) and re-aggregated them through two
  * shuffled groupBys — a 64× row amplification for what is a per-row
  * reduction. Like [[WinnowFingerprintsExpr]], the sequential work
  * lives inside the row and corpus parallelism comes from partitioning,
  * which is the right axis at 100 TB.
  *
  * Hash parity (oracle-exact): bit j (j = 0..63, MSB-first over md5's
  * first 16 hex chars) is 1 iff the sum over distinct words of
  * (bit_j(md5(word)) ? +1 : -1) is positive — identical to the exploded
  * form and the DuckDB oracle's nibble arithmetic. Tokenization splits
  * on single 0x20 bytes keeping empty tokens, exactly `split(text, " ")`
  * / DuckDB `string_split(text, ' ')`. The split runs on raw UTF-8
  * bytes (0x20 never occurs inside a multi-byte sequence) and md5
  * consumes the byte slices directly — no per-word String garbage.
  */
object SimHashExpr {

  /** [[simhash64]] over a text column. */
  def apply(text: Column): Column =
    Kernel.call(this, "simhash64", StringType, Seq(text -> StringType))

  private val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".toCharArray

  def simhash64(u: UTF8String): UTF8String = {
    val bytes = u.getBytes
    val n = bytes.length
    val md = mdLocal.get()
    val counts = new Array[Int](64)
    val seen = new java.util.HashSet[java.nio.ByteBuffer]()
    var start = 0
    while (start <= n) {
      var end = start
      while (end < n && bytes(end) != 0x20) end += 1
      if (seen.add(java.nio.ByteBuffer.wrap(bytes, start, end - start))) {
        md.reset()
        md.update(bytes, start, end - start)
        val d = md.digest()
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var j = 0
        while (j < 64) {
          if (((h >>> (63 - j)) & 1L) == 1L) counts(j) += 1
          else counts(j) -= 1
          j += 1
        }
      }
      start = end + 1
    }
    val out = new Array[Char](16)
    var nib = 0
    while (nib < 16) {
      var v = 0
      var b = 0
      while (b < 4) {
        if (counts(nib * 4 + b) > 0) v |= 1 << (3 - b)
        b += 1
      }
      out(nib) = HexChars(v)
      nib += 1
    }
    UTF8String.fromString(new String(out))
  }
}
