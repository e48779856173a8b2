package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  test("an engine frame names its module") {
    assert(Attribution.moduleOfClass("graft.operators.Dedupe$").contains("operators"))
    assert(Attribution.moduleOfClass("graft.sources.Tsv$").contains("sources"))
    assert(Attribution.moduleOfClass("graft.SparkEntry$").contains("queries"))
    assert(Attribution.moduleOfClass("graft.ingest.Fetcher").contains("other"))
    assert(Attribution.moduleOfClass("org.apache.spark.sql.graftbridge.ColumnBridge$").isEmpty)
    assert(Attribution.classOfFrame(
      "graft.operators.Dedupe$.connectedComponents(Dedupe.scala:123)")
      .contains("graft.operators.Dedupe$"))
    assert(Attribution.classOfFrame(
      "app//graft.sources.Tsv$.$anonfun$write$1(Tsv.scala:135)")
      .contains("graft.sources.Tsv$"))
    assert(Attribution.classOfFrame("not a frame").isEmpty)
  }

  private val sparkFrame = "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)"

  test("the first engine frame of a call site decides") {
    val callSite = Seq(sparkFrame,
      "graft.sources.SegmentedTable$.appendSegment(SegmentedTable.scala:355)",
      "graft.streaming.StreamingDedupe$.foldBatch(StreamingDedupe.scala:86)",
      "perfbench.DedupNightly$$anon$1.round(DedupNightly.scala:60)").mkString("\n")
    assert(Attribution.moduleOfJob(callSite, Some("streaming")) == "sources")
  }

  test("a job the benchmark started belongs to its span's layer") {
    val callSite = Seq(sparkFrame,
      "perfbench.Workload$.materialize(Workload.scala:66)",
      "graft.operators.MediaClean$.cleanMediaMetadata(MediaClean.scala:60)").mkString("\n")
    assert(Attribution.moduleOfJob(callSite, Some("operators")) == "operators")
    assert(Attribution.moduleOfJob(callSite, None) == "bench")
  }

  test("a job without a user frame belongs to its span's layer") {
    val helper = "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)\n" +
      "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)"
    assert(Attribution.moduleOfJob(helper, Some("inat")) == "inat")
    assert(Attribution.moduleOfJob("", Some("queries")) == "queries")
    // structural spans are not modules
    assert(Attribution.moduleOfJob("", Some("bench")) == "bench")
    assert(Attribution.moduleOfJob("", None) == "bench")
  }
}
