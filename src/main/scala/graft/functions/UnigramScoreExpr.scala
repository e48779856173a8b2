package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Total fixed-point unigram log-likelihood of a text column under a
  * FROZEN pretrained unigram table (the CCNet-style LM quality filter:
  * the model is shipped to the data, never learned from it): for each
  * space-separated token, add `vocabFp(token)` — a negative log2
  * probability scaled by 1024 — or `oovFp` when the token is
  * out-of-vocabulary. ONE codegen'd per-row loop returning the exact
  * integer sum, so the per-document average is a deterministic
  * (order-independent) value both engines agree on bit-for-bit —
  * unlike a float sum, whose value depends on reduction order.
  *
  * Scale shape: the vocabulary rides along as a plan reference object
  * shipped once per executor (a real LM table is MBs, not TBs); its
  * byte-slice lookup map is @transient and rebuilt lazily after
  * deserialization. Scoring is embarrassingly parallel, zero shuffle,
  * zero row amplification — the explode + vocab-join + re-aggregate
  * formulation this replaces shuffles every token row twice.
  * Tokenization splits on single 0x20 bytes keeping empty tokens,
  * exactly `split(text, " ")` / DuckDB `string_split(text, ' ')`;
  * lookups compare raw UTF-8 byte slices (no per-token String garbage).
  */
object UnigramScoreExpr {

  /** [[score]] over a text column. */
  def apply(text: Column, vocabFp: Map[String, Long], oovFp: Long): Column =
    Kernel.call(this, "score", LongType, Seq(text -> StringType),
      Seq(UnigramVocab(vocabFp), oovFp))

  def score(u: UTF8String, vocab: UnigramVocab, oovFp: Long): Long = {
    val bytes = u.getBytes
    val n = bytes.length
    var sum = 0L
    var start = 0
    while (start <= n) {
      var end = start
      while (end < n && bytes(end) != 0x20) end += 1
      val fp = vocab.fpOf(bytes, start, end - start)
      sum += (if (fp eq null) oovFp else fp.longValue())
      start = end + 1
    }
    sum
  }
}

/** The vocabulary constant of a [[UnigramScoreExpr]] plan: compares by
  * its table, so two plans over equal tables are equal, and prints its
  * size, not its entries. The zero-copy ByteBuffer-keyed lookup map is
  * rebuilt lazily per JVM.
  */
final case class UnigramVocab(vocabFp: Map[String, Long]) {

  override def toString: String = s"UnigramVocab(${vocabFp.size} words)"

  @transient private lazy val lookup
      : java.util.HashMap[ByteBuffer, java.lang.Long] = {
    val m = new java.util.HashMap[ByteBuffer, java.lang.Long](
      vocabFp.size * 2)
    vocabFp.foreach { case (w, fp) =>
      m.put(ByteBuffer.wrap(w.getBytes(StandardCharsets.UTF_8)), Long.box(fp))
    }
    m
  }

  def fpOf(bytes: Array[Byte], start: Int, len: Int): java.lang.Long =
    lookup.get(ByteBuffer.wrap(bytes, start, len))
}
