package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CutSpansExpr, GramHashesExpr}
import graft.operators.Dedupe

/** Exact-substring dedup (Dedupe.exactSubstrDedup + the GramHashes /
  * CutSpans expressions): hash parity with a naive recompute, span
  * merge semantics incl. multi-byte codepoints, and corpus invariants.
  */
class SubstrDedupSpec extends SparkSpec {

  private def hashesOf(s: String, L: Int): Seq[Long] = {
    val a = GramHashesExpr.gramHashes(UTF8String.fromString(s), L)
    (0 until a.numElements()).map(a.getLong)
  }

  private def naiveHash(s: String, L: Int): Long =
    s.codePoints().toArray.foldLeft(0L)(_ * GramHashesExpr.Base + _)

  test("gramHashes: rolling equals naive per-window recompute") {
    val s = "abcabcXabcabc déjà-vu déjà-vu ≠ twice"
    val L = 5
    val cps = s.codePoints().toArray
    val expect = (0 to cps.length - L).map { i =>
      naiveHash(new String(cps.slice(i, i + L), 0, L), L)
    }
    assert(hashesOf(s, L) == expect)
    assert(hashesOf("ab", 5).isEmpty)
    // equal windows hash equal; the repeated "abcab" at 1 and 8 (1-based)
    val h = hashesOf(s, L)
    assert(h(0) == h(7))
  }

  private def cut(s: String, starts: Seq[Int], L: Int)
      : (String, Long, Long) = {
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      starts.toArray)
    val r = CutSpansExpr.cutSpans(UTF8String.fromString(s), arr, L)
    (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2))
  }

  test("cutSpans: merge, gaps, full cover, multi-byte codepoints") {
    // no starts: unchanged
    assert(cut("hello world", Nil, 3) == (("hello world", 0L, 0L)))
    // single span [3,6) of "0123456789" (1-based) removes "234"
    assert(cut("0123456789", Seq(3), 3) == (("0156789", 1L, 3L)))
    // overlapping starts merge into one span
    assert(cut("0123456789", Seq(3, 4), 3) == (("016789", 1L, 4L)))
    // touching starts (gap == L) merge too
    assert(cut("0123456789", Seq(2, 5), 3) == (("0789", 1L, 6L)))
    // gap > L keeps two spans
    assert(cut("0123456789", Seq(1, 8), 3) == (("3456", 2L, 6L)))
    // full cover leaves the empty string
    assert(cut("abcd", Seq(1, 2), 3) == (("", 1L, 4L)))
    // positions count CODEPOINTS: é ≠ 𝄞 are 1 position each
    val s = "é𝄞xé𝄞x!"
    assert(cut(s, Seq(1), 3) == (("é𝄞x!", 1L, 3L)))
    assert(cut(s, Seq(4), 3) == (("é𝄞x!", 1L, 3L)))
  }

  test("exactSubstrDedup: length invariant and untouched non-dup docs") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
    val out = Dedupe.exactSubstrDedup(docs, "doc_id", "text", 40)
      .as[(Long, String, Long, Long)].collect()
    val orig = docs.filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out.length == orig.size)
    for ((id, clean, nSpans, removed) <- out) {
      def cpLen(s: String) = s.codePointCount(0, s.length)
      assert(cpLen(clean) + removed == cpLen(orig(id)),
        s"doc $id: ${cpLen(clean)} + $removed != ${cpLen(orig(id))}")
      if (nSpans == 0) assert(clean == orig(id) && removed == 0)
      else assert(removed >= 40)
    }
    // the corpus plants near-duplicate runs: some docs must shrink
    assert(out.exists(_._3 > 0))
    assert(out.count(_._3 == 0) > out.count(_._3 > 0))
  }

  test("exactSubstrDedup removes ONLY later occurrences: first doc keeps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog AAAA"),
      (2L, "prefix the quick brown fox jumps over the lazy suffix"),
      (3L, "unrelated text with no repeats at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedupe.exactSubstrDedup(docs, "doc_id", "text", 20)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // doc 1 is the first occurrence of the shared run: untouched
    assert(out(0)._3 == 0 && out(0)._2.contains("quick brown fox"))
    // doc 2 loses the duplicated window(s) but keeps its unique edges
    assert(out(1)._3 > 0)
    assert(out(1)._2.startsWith("prefix"))
    assert(!out(1)._2.contains("quick brown fox jumps over the"))
    // doc 3 untouched
    assert(out(2)._3 == 0)
  }
}
