package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** BM25 retrieval: materialized-index path equals the direct path, and
  * scoring behaves like BM25 (term saturation, length normalization).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sfDir, "documents")
  private lazy val qt = Seq((0, "spark"), (0, "join"), (1, "vector"),
    (1, "merge"), (1, "slow")).toDF("query_id", "term")

  test("indexed search equals direct search") {
    val direct = Retrieval.bm25TopKOverDocs(docs, "doc_id", "text", qt, 10)
    val path = java.nio.file.Files
      .createTempDirectory("bm25").toString + "/idx"
    Retrieval.writeIndex(docs, "doc_id", "text", path, parts = 4)
    val indexed = Retrieval.topKIndexed(spark, path, qt, 10)
    assert(direct.exceptAll(indexed).isEmpty &&
      indexed.exceptAll(direct).isEmpty)
  }

  test("every top doc actually contains at least one query term") {
    val top = Retrieval.bm25TopKOverDocs(docs, "doc_id", "text", qt, 10)
      .join(docs, "doc_id")
      .withColumn("terms", Retrieval.tokensCol(col("text")))
    val qterms = qt.groupBy("query_id")
      .agg(collect_set("term").as("qset"))
    val misses = top.join(qterms, "query_id")
      .filter(size(array_intersect(col("terms"), col("qset"))) === 0)
    assert(misses.count() == 0)
  }

  test("postings are exact: tf sums to doc token count") {
    val p = Retrieval.postings(docs, "doc_id", "text")
      .groupBy("doc_id").agg(sum("tf").as("dl"))
    val direct = docs.select(col("doc_id"),
        size(filter(Retrieval.tokensCol(col("text")), t => t =!= ""))
          .cast("long").as("dl"))
    assert(p.exceptAll(direct).isEmpty && direct.exceptAll(p).isEmpty)
  }

  test("TokenizeExpr equals the regex split minus empties, incl. edges") {
    val edge = Seq("", "  ", "a", " a b ", "a--b__c", "héllo wörld 5",
      "ALL CAPS 123", "tab\tsep\nnewline", "ünïcödé", "a1b2c3", "9 to 5")
      .toDF("text")
    val both = edge.union(docs.select("text"))
      .select(Retrieval.fastTokensCol(col("text")).as("fast"),
        filter(Retrieval.tokensCol(col("text")), t => t =!= "").as("slow"))
    assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0)
  }

  test("QueryTermCountsExpr equals the exploded-join formulation") {
    val terms = Seq("join", "spark", "zzznothere", "a1b2c3")
    val counts = graft.functions.QueryTermCountsExpr(col("text"), terms)
    val edge = Seq((9000L, "a1b2c3 JOIN join--spark. a1B2c3"),
      (9001L, ""), (9002L, "héllo spark wörld")).toDF("doc_id", "text")
    val src = docs.select("doc_id", "text").union(edge)
    val fast = src.select(col("doc_id"),
        element_at(counts, 1).as("dl"), posexplode(counts))
      .filter(col("pos") >= 1 && col("col") > 0)
      .select(col("doc_id"), col("dl"),
        element_at(lit(terms.toArray), col("pos")).as("term"),
        col("col").as("tf"))
    val slow = src.select(col("doc_id"),
        size(Retrieval.fastTokensCol(col("text"))).cast("long").as("dl"),
        explode(Retrieval.fastTokensCol(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .select("doc_id", "dl", "term", "tf")
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("TokenCountExpr equals size of filtered split, incl. edge cases") {
    val edge = Seq("", "  ", "a", " a b ", "a--b__c", "héllo wörld 5",
      "ALL CAPS 123", "tab\tsep\nnewline", "ünïcödé", "a1b2c3")
      .toDF("text")
    val both = edge.union(docs.select("text"))
      .select(Retrieval.tokenCountCol(col("text")).as("fast"),
        size(filter(Retrieval.tokensCol(col("text")), t => t =!= ""))
          .cast("long").as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }
}
