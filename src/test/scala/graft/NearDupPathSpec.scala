package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.core.{CacheHandle, RunProfile}
import graft.operators.Dedupe
import graft.queries.DedupeQueries

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

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** `docs` plus a hub in four colliding pairs, a 2-word doc and a
    * null-text doc, with their persisted, filled, distinct LSH
    * candidates: (corpus, candidates, their count, hub id, 2-word id,
    * null-text id).
    */
  private def hubCorpus()
      : (DataFrame, DataFrame, Long, Long, Long, Long) = {
    val hubWords = (1 to 120).map(i => s"hubword$i")
    val (hub, short, nul) = (1000000L, 1000010L, 1000020L)
    val extra = (Seq(hub -> hubWords.mkString(" "), short -> "two words") ++
      (1 to 4).map(e => (hub + e) ->
        hubWords.updated(e * 20, s"edit$e").mkString(" ")))
      .toDF("doc_id", "text")
      .union(Seq(nul).toDF("doc_id").select(col("doc_id"),
        lit(null).cast("string").as("text")))
    val all = docs.union(extra)
    val sig = Dedupe.minhashWide(all, "doc_id", "text", 3, 16,
      withCount = true)
    val cand = Dedupe.countedCandidatePairs(sig, 16, 4, 0.0)
      .union(Seq((hub, short, 0L, 0L), (hub, nul, 0L, 0L))
        .toDF("doc_a", "doc_b", "cnt_a", "cnt_b"))
      .distinct()
      .persist()
    (all, cand, CacheHandle.fill(cand), hub, short, nul)
  }

  test("the driver verify equals verifyJaccardOneJoin, hub, short and null-text docs included") {
    val (all, cand, n, hub, short, nul) = hubCorpus()
    try {
      val pairs = rows(cand, "doc_a", "doc_b")
      assert(pairs.count(_.contains(hub)) >= 4)
      assert(pairs.exists(_.contains(short)) && pairs.exists(_.contains(nul)))
      for (minJ <- Seq(0.0, 0.5)) {
        val local = Dedupe.verifyCandidates(cand, n, all, "doc_id", "text",
          3, minJ)
        val oneJoin = Dedupe.verifyJaccardOneJoin(cand, all, "doc_id",
          "text", 3, minJ)
        assert(isLocal(local), s"minJaccard $minJ")
        assert(local.schema == oneJoin.schema)
        val got = rows(local, "doc_a", "doc_b", "jaccard")
        assert(got == rows(oneJoin, "doc_a", "doc_b", "jaccard"),
          s"minJaccard $minJ")
        assert(local.count() == got.size)
        assert(got.count(_.take(2).contains(hub)) >= 4)
        assert(!got.exists(p => p.contains(short) || p.contains(nul)))
      }
    } finally cand.unpersist()
  }

  test("the driver verify falls back to the join past the budget or on a repeated id") {
    val (all, cand, n, hub, _, _) = hubCorpus()
    try {
      def same(corpus: DataFrame, budget: Long): Unit = {
        val got = Dedupe.verifyCandidates(cand, n, corpus, "doc_id", "text",
          3, 0.5, budget)
        assert(!isLocal(got))
        assert(rows(got, "doc_a", "doc_b", "jaccard") == rows(
          Dedupe.verifyJaccardOneJoin(cand, corpus, "doc_id", "text", 3,
            0.5), "doc_a", "doc_b", "jaccard"))
      }
      same(all, 0L)
      // the hub's second row has one more side in each of its pairs: the
      // join drops them, and the driver verify must not decide otherwise
      same(all.union(all.filter(col("doc_id") === hub)), 256L << 20)
    } finally cand.unpersist()
  }

  test("past the budget the driver verify collects no text") {
    val (all, cand, n, _, _, _) = hubCorpus()
    try {
      // a zero budget is decided from the pair count alone; one that
      // holds the pairs but not their documents' shingle sets, from the
      // collected pairs' counts — never from a collect of the texts
      for ((budget, jobs) <- Seq(0L -> 0, n * 208L + 1000L -> 1)) {
        val (got, p) = RunProfile(spark)(Dedupe.verifyCandidates(cand, n,
          all, "doc_id", "text", 3, 0.5, budget))
        assert(!isLocal(got), s"budget $budget")
        assert(p.jobs == jobs, s"budget $budget: $p")
      }
    } finally cand.unpersist()
  }

  test("withClusterSizes counts local labels as the window form does") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L), (11L, 12L),
      (12L, 10L)).toDF("a", "b")
    val labels = Dedupe.connectedComponents(edges, "a", "b")
    assert(isLocal(labels))
    val local = DedupeQueries.withClusterSizes(labels)
    val windowed = DedupeQueries.withClusterSizes(labels.filter(lit(true)))
    assert(isLocal(local) && !isLocal(windowed))
    assert(local.schema == windowed.schema)
    val cols = Seq("doc", "cluster", "cluster_size")
    assert(rows(local, cols: _*) == rows(windowed, cols: _*))
    assert(rows(local, cols: _*).contains(Seq(12L, 10L, 3L)))
  }

  test("q59 reruns in at most 4 jobs with no exchange or window in its plan") {
    // q59's chain over the sf0.01 documents
    def run(): (DataFrame, RunProfile) = RunProfile(spark) {
      val df = DedupeQueries.withClusterSizes(
        DedupeQueries.nearDupLabels(docs))
      df.queryExecution.toRdd.count()
      df
    }
    try {
      run()
      val (df, p) = run()
      assert(p.jobs <= 4, p)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
    } finally spark.catalog.clearCache()
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
