package perfbench

import graft.SparkEntry
import graft.operators.{Dedupe, SignatureStore}
import graft.sources.SegmentedTable
import graft.streaming.StreamingDedupe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `dedup_nightly`: stateful near-duplicate maintenance over a growing
  * corpus. A SignatureStore is bootstrapped from a seeded base slice of
  * the 5,000 vendored documents; each night (a round) folds the next
  * seeded slice with StreamingDedupe.foldBatch and then compacts the
  * store with SignatureStore.compact.
  *
  * The check: the store's labels equal q59's from-scratch clustering of
  * every document folded so far, and replaying the last night is skipped
  * (exactly-once).
  */
object DedupNightly extends Workload {
  val name = "dedup_nightly"

  /** Documents fall into 100 seeded slots: the base corpus takes
    * [[BasePct]] of them, each night [[NightPct]].
    */
  val BasePct = 10
  val NightPct = 5
  val maxRounds: Int = (100 - BasePct) / NightPct
  /** The bootstrap fold and its compaction ran every path in `prepare`. */
  val warmUpRounds = 0
  /** The store's MinHash-LSH parameters, q59's and q80's. */
  val ShingleK = 3
  val NumHashes = 16
  val RowsPerBand = 4
  val MinJaccard = 0.5

  def prepare(ctx: Ctx): Prepared = {
    val spark = ctx.spark
    val dir = Workload.freshDir(ctx, name)
    // documents are dealt out to the slots in a seeded order, so every
    // seed gives the base corpus and each night as many documents
    val slot = pmod(row_number().over(Window.orderBy(
      xxhash64(lit(ctx.seed), col("doc_id")), col("doc_id"))) - 1, lit(100L))
    val docs = spark.read.parquet(s"${ctx.data}/docs5k/documents.parquet")
    // slice 0 is the base corpus, slice n + 1 night n
    docs.withColumn("slot", slot).select(col("doc_id"), col("text"),
        when(col("slot") < BasePct, 0).otherwise((col("slot") - BasePct) / NightPct + 1)
          .cast("int")
          .as("slice"))
      .write.partitionBy("slice").parquet(s"$dir/in")
    def input(n: Int): DataFrame = spark.read.parquet(s"$dir/in/slice=$n")
    val store = s"$dir/store"
    val docsRoot = s"$dir/docs"
    def fold(n: Int): Boolean = StreamingDedupe.foldBatch(spark, store, docsRoot,
      input(n), n.toLong, "doc_id", "text", ShingleK, NumHashes, RowsPerBand, MinJaccard)
    // the bootstrapped store: the first batch is the corpus; compacting
    // it means set-up has run every path of a night once
    fold(0)
    SignatureStore.compact(spark, store, NumHashes, RowsPerBand)

    new Prepared {
      private var folded = 0

      def round(i: Int, tracer: Tracer): Round = {
        val n = i + 1
        val counts = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
        val rows = input(n).count()
        val (_, seconds) = Workload.timed(tracer.span("bench.night") {
          if (tracer.enabled) splitFold(tracer, input(n), counts)
          Workload.writing(tracer, "streaming.fold", dir)(fold(n))
          Workload.writing(tracer, "sources.compact", store)(
            SignatureStore.compact(spark, store, NumHashes, RowsPerBand))
        })
        folded = n
        Round(Seq(Op(s"fold$n", Some(seconds), "fold")), seconds, rows, counts.toMap)
      }

      /** The fold's operator stages called one by one on tonight's batch
        * before the fold itself, for their self times and funnel counts:
        * MinHash signatures, LSH candidates (within the batch and against
        * the store), exact Jaccard verification, component labels.
        */
      private def splitFold(tracer: Tracer, batch: DataFrame,
          counts: scala.collection.mutable.Map[String, Double]): Unit = {
        val (storeSigs, labels) = SignatureStore.read(spark, store)
        val sig = tracer.span("operators.minhash")(Workload.materialize(
          Dedupe.minhashWide(batch, "doc_id", "text", ShingleK, NumHashes,
            withCount = true), tracer))
        val cand = tracer.span("operators.candidates")(Workload.materialize(
          Dedupe.minhashCandidatePairs(sig, NumHashes, RowsPerBand, minSizeRatio = MinJaccard)
            .select("doc_a", "doc_b")
            .union(Dedupe.minhashCandidatePairsAgainst(sig, storeSigs, NumHashes, RowsPerBand)
              .select(col("new_doc").as("doc_a"), col("corpus_doc").as("doc_b")))
            .distinct(), tracer))
        val lookup = SegmentedTable.read(spark, docsRoot).select("doc_id", "text")
          .unionByName(batch)
        val verified = tracer.span("operators.verify")(Workload.materialize(
          Dedupe.verifyJaccardOneJoin(cand, lookup, "doc_id", "text", ShingleK, MinJaccard),
          tracer))
        tracer.span("operators.components")(Workload.materialize(
          Dedupe.incrementalComponents(labels, verified, "doc_a", "doc_b"), tracer))
        counts("operators.candidate_pairs") += cand.count()
        counts("operators.verified_pairs") += verified.count()
        spark.catalog.clearCache()
      }

      def check(): Checked = {
        val all = s"$dir/check-$folded"
        val docs = (0 to folded).map(input).reduce(_ union _)
        docs.write.parquet(s"$all/documents.parquet")
        val textBytes = docs.agg(sum(octet_length(col("text")))).head().getLong(0)
        val expected = SparkEntry.queries("q59_dedup_clusters")(spark, all)
          .select(col("doc").as("node"), col("cluster").as("label"))
        val got = SignatureStore.readLabels(spark, store).select("node", "label")
        val diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
        val replayed = fold(folded)
        val problems = Seq(
          (diff != 0) -> s"store labels differ from q59 in $diff rows",
          replayed -> s"replaying night $folded was not skipped"
        ).collect { case (true, msg) => msg }
        val live = Seq(SignatureStore.sigsRoot(store), SignatureStore.bandsRoot(store),
          SignatureStore.labelsRoot(store), docsRoot)
          .map(r => SegmentedTable.members(spark, r).size).sum
        Checked(problems, if (problems.isEmpty) Set.empty else (1 to folded).map(n => s"fold$n").toSet,
          Map("sources.segments_live" -> live.toDouble,
            "sources.stored_bytes" -> (Disk.bytes(store) + Disk.bytes(docsRoot)).toDouble,
            "sources.input_bytes" -> textBytes.toDouble,
            "streaming.replays_skipped" -> (if (replayed) 0.0 else 1.0)))
      }
    }
  }
}
