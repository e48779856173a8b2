package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedupe

/** The near-dup path's paired operators pinned against each other: the
  * nightly fold's inline verifier against the from-scratch one-join
  * verifier, and the pairs-only batch-vs-corpus candidates against the
  * estimating form they drop the estimate from.
  */
class NearDupPathSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    .select("doc_id", "text")

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("verifyJaccardInline equals verifyJaccardOneJoin, hub and short docs included") {
    // a hub whose four one-word edits all collide with it, and a doc
    // shorter than k = 3 words (no signature, no shingle set)
    val hubWords = (1 to 120).map(i => s"hubword$i")
    val edits = (1 to 4).map(e =>
      hubWords.updated(e * 20, s"edit$e").mkString(" "))
    val (hub, short) = (1000000L, 1000010L)
    val extra = ((hub -> hubWords.mkString(" ")) +:
      edits.zipWithIndex.map { case (t, i) => (hub + 1 + i) -> t }) :+
      (short -> "two words")
    val all = docs.union(extra.toDF("doc_id", "text"))
    val sig = Dedupe.minhashWide(all, "doc_id", "text", 3, 16,
      withCount = true)
    val cand = Dedupe.minhashCandidatePairs(sig, 16, 4)
      .union(Seq((hub, short)).toDF("doc_a", "doc_b"))
      .distinct()
      .persist()
    try {
      val pairs = rows(cand, "doc_a", "doc_b")
      assert(pairs.count(p => p.contains(hub)) >= 4)
      assert(pairs.exists(p => p.contains(short)))
      for (minJ <- Seq(0.0, 0.5)) {
        val inline = rows(Dedupe.verifyJaccardInline(cand, all, "doc_id",
          "text", 3, minJ), "doc_a", "doc_b", "jaccard")
        val oneJoin = rows(Dedupe.verifyJaccardOneJoin(cand, all, "doc_id",
          "text", 3, minJ), "doc_a", "doc_b", "jaccard")
        assert(inline == oneJoin, s"minJaccard $minJ")
        assert(inline.count(_.take(2).contains(hub)) >= 4)
        assert(!inline.exists(_.take(2).contains(short)))
      }
    } finally cand.unpersist()
  }

  test("minhashCandidatePairsAgainst is minhashCandidatesAgainst without the estimate") {
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val newSig = Dedupe.minhashWide(batch, "doc_id", "text", 3, 16)
    val corpusSig = Dedupe.minhashWide(corpus, "doc_id", "text", 3, 16)
    val pairsOnly = Dedupe.minhashCandidatePairsAgainst(newSig, corpusSig,
      16, 4)
    val estimated = Dedupe.minhashCandidatesAgainst(newSig, corpusSig, 16, 4)
    val got = rows(pairsOnly, "new_doc", "corpus_doc")
    assert(got.nonEmpty)
    assert(pairsOnly.count() == got.size) // distinct
    assert(got == rows(estimated, "new_doc", "corpus_doc"))
  }
}
