package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType,
  DateType, DecimalType, DoubleType, IntegerType, LongType, ShortType,
  StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.CacheHandle

/** Document deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH banding, SimHash, and exact n-gram
  * Jaccard verification.
  *
  * All hashes are md5-based so results are engine-independent and
  * oracle-verifiable (DuckDB computes identical md5 hex strings). At
  * 100 TB the plans below are shuffle-minimal:
  *  - exact dedup: one shuffle on the content hash (map-side partial agg
  *    collapses duplicates first);
  *  - MinHash: shingling + signature is embarrassingly parallel
  *    (explode → groupBy doc), the LSH band join shuffles only
  *    (band, band-signature) keys — never all-pairs;
  *  - candidate verification joins only the candidate pairs back to
  *    shingle sets, not the full corpus cross product.
  *
  * The near-dup path has one definition per step: [[withBands]] builds
  * the LSH banding key for every candidate generator and for the
  * persisted band index; [[verifyCandidates]] (from-scratch: on the
  * driver under the local byte budget, else [[verifyJaccardOneJoin]])
  * and [[verifyJaccardInline]] (the nightly fold) are the exact
  * verifiers; and [[nearDupPairs]] / [[nearDupComponents]] are the
  * sign → candidates → verify → components chain every from-scratch
  * caller runs.
  */
object Dedupe {

  /** Word tokens of a text column (single-space tokenized corpora;
    * for messy text compose with CleanFunctions.collapseWhitespace).
    */
  def words(text: Column): Column = split(text, " ")

  /** Distinct k-word shingles of a text column as an array. Documents
    * shorter than k words yield an empty array.
    */
  def shingles(text: Column, k: Int): Column = {
    val ws = words(text)
    val n = size(ws)
    when(n < k, array().cast("array<string>")).otherwise(
      array_distinct(transform(sequence(lit(0), n - k), i =>
        concat_ws(" ", (0 until k).map(j => element_at(ws, i + j + 1)): _*))))
  }

  /** Exact duplicate groups by md5 of the (already normalized) text.
    * Output: one row per distinct content hash with the surviving id
    * (min) and the number of copies.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  /** All k-word shingles WITH multiplicity (repetition metrics need the
    * counts; dedup/minhash want the distinct set — see [[shingleRows]]).
    *
    * Built by zipping the word array with its own k-1 shifted slices
    * and exploding once: pure codegen'd expressions, NO shuffle. This
    * replaced the posexplode + window-lead form (which shuffles and
    * sorts every word row to line up the leads) — measured 2.4× faster
    * at sf0.1 (0.24s vs 0.58s steady-state), identical rows. The
    * array-HOF transform variant remains the worst of the three (3.6s —
    * interpreted per-element lambdas).
    */
  def shingleRowsAll(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocChars: Int = TextAnalysis.defaultMaxDocChars)
      : DataFrame = {
    val ws = split(TextAnalysis.capDoc(col(textCol), maxDocChars), " ")
    val slices = (0 until k).map { j =>
      if (j == 0) ws
      else slice(ws, lit(j + 1), greatest(size(ws) - j, lit(0)))
    }
    val parts = (0 until k).map(j => col("z").getField(j.toString))
    docs.select(col(idCol).as("doc"),
        explode(arrays_zip(slices: _*)).as("z"))
      // arrays_zip pads to the longest input: rows whose last slice
      // ran out are partial shingles — drop them
      .filter(parts.last.isNotNull)
      .select(col("doc"), concat_ws(" ", parts: _*).as("shingle"))
  }

  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocChars: Int = TextAnalysis.defaultMaxDocChars)
      : DataFrame =
    shingleRowsAll(docs, idCol, textCol, k, maxDocChars).distinct()

  /** (doc, minhash_index, minhash) rows: signature of `numHashes` md5-based
    * min-hashes over k-word shingles. The i-th hash of shingle s is
    * md5(i || ':' || s) — deterministic and portable.
    *
    * All hashes reduce in ONE aggregation pass over the shingle rows
    * (numHashes min-columns, then a stack unpivot): the shuffle carries
    * |docs| × numHashes values, never |shingles| × numHashes rows.
    */
  /** The modulus for the affine minhash permutations (2^31-1, prime). */
  final val MinhashP = 2147483647L
  /** i-th permutation of a base hash h: (a_i·h + b_i) mod p. */
  def permute(i: Int, h: Column): Column =
    (lit(2L * i + 1) * h + lit(104729L * i + 12345L)) % lit(MinhashP)

  /** One row per doc: (doc, sig array<long> of `numHashes` minhashes,
    * index order). Docs shorter than `shingleK` words emit no row.
    *
    * Computed by the codegen'd [[graft.functions.MinHashSigExpr]]: the
    * whole signature is ONE per-row loop over the text's byte slices —
    * zero explode, zero shuffle. This replaced the shingle-explode +
    * groupBy-doc plan (still available as [[minhashWideFromShingles]]
    * for callers with precomputed shingle frames): at sf0.1 the explode
    * form materialized ~3M (doc, shingle) rows and shuffled a
    * corpus-scale aggregation just to reduce per-document minima.
    * Hash-identical output (spec-asserted against the explode form).
    */
  def minhashWide(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars,
      withCount: Boolean = false): DataFrame =
    docs.select(col(idCol).as("doc"),
        graft.functions.MinHashSigExpr(
          TextAnalysis.capDoc(col(textCol), maxDocChars),
          shingleK, numHashes, withCount).as("sig"))
      // the groupBy form emits no row for docs with < k words; the
      // expression returns an empty array for them — drop for parity
      .filter(size(col("sig")) > 0)

  /** Signature from precomputed (doc, shingle) rows — callers that also
    * need the shingle frame elsewhere (e.g. exact verification) compute
    * it ONCE, persist, and pass it here; at 100 TB re-deriving the
    * shingle explode per consumer is the dominant waste.
    */
  def minhashWideFromShingles(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashed = sh.withColumn("h",
      conv(substring(md5(col("shingle")), 1, 7), 16, 10).cast("long"))
    val mins = (0 until numHashes).map(i =>
      min(permute(i, col("h"))).as(s"mh$i"))
    hashed.groupBy("doc").agg(mins.head, mins.tail: _*)
      .select(col("doc"),
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** `sig` plus the LSH banding key: one row per band, `band` in
    * [0, numHashes / rowsPerBand) and `band_sig` = that band's
    * `rowsPerBand` consecutive minhashes joined with "|". The one
    * definition of the key every candidate generator joins or groups
    * on, and of the persisted band index ([[bandRowsOf]]).
    */
  private[graft] def withBands(sig: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    sig
      .withColumn("band",
        explode(sequence(lit(0), lit(numHashes / rowsPerBand - 1))))
      .withColumn("band_sig", array_join(
        transform(
          slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")),
        "|"))

  /** LSH candidate pairs + estimated Jaccard, from wide signatures.
    *
    * Bands of `rowsPerBand` consecutive hash indices; a pair is a
    * candidate iff ALL hashes agree within at least one band — i.e. the
    * joined band signatures collide. Joining on the whole band signature
    * (not single minhashes) keeps join buckets tiny: single-hash buckets
    * degenerate on low-entropy corpora where many documents share the
    * globally smallest shingle hash. Each side carries its full
    * signature array, so per-pair agreement is an in-row zip_with —
    * no re-join of the signature table. Work stays proportional to true
    * collisions, never |docs|².
    * Output: doc_a < doc_b, est_jaccard = matching_hashes / numHashes.
    */
  def minhashCandidates(sigWide: DataFrame, numHashes: Int,
      rowsPerBand: Int, caches: CacheHandle = CacheHandle.session)
      : DataFrame = {
    // persist + MATERIALIZE the banded signatures: the self-join below
    // consumes this frame on BOTH sides, and because the two sides
    // project different aliases (doc_a / doc_b) Catalyst does NOT
    // reuse the exchange — and the two sides are concurrent AQE stages
    // of one action, so a lazy persist still executes the whole
    // upstream signature pipeline twice as the stages race
    // (CacheHandle.eager). The frame is |docs| × nBands rows of
    // (doc, sig, band, band_sig) — small at any corpus size that fits
    // a cluster. Long-lived callers pass a live CacheHandle and
    // release() after materializing; by default the frame ages out
    // with clearCache()/the session.
    val bands = CacheHandle.eager(caches.track(
      withBands(sigWide, numHashes, rowsPerBand).persist()))
    val a = bands.select(col("doc").as("doc_a"), col("sig").as("sig_a"),
      col("band"), col("band_sig"))
    val b = bands.select(col("doc").as("doc_b"), col("sig").as("sig_b"),
      col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
      .withColumn("n_agree",
        size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
          x => x)))
      .withColumn("est_jaccard", col("n_agree") / lit(numHashes.toDouble))
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** LSH candidate PAIRS only (no Jaccard estimate) via bucket
    * grouping: band signatures collapse to (band, band_sig) buckets
    * and each bucket emits its pairwise combinations in-row.
    *
    * vs [[minhashCandidates]]'s self-join: the signature pipeline has
    * exactly ONE consumer here, so no persist / eager materialization
    * job is needed (the self-join reads the banded frame on both
    * aliased sides, which AQE races as concurrent stages), and the
    * band shuffle moves each (doc, band, band_sig) row once instead
    * of twice. One groupBy shuffle + one distinct shuffle, one job.
    *
    * Scale note: a bucket's doc list lives in one aggregation row, so
    * memory is bounded by the largest LSH bucket. Buckets are identical
    * band signatures — after exact dedup (run [[exactGroups]] first, as
    * the reference pipeline does) that is the near-dup cluster size,
    * and the pair EXPLOSION is n² in bucket size either way (the
    * self-join emits the same n² rows). For corpora where giant
    * identical-signature buckets must survive, use the self-join form.
    * Callers needing est_jaccard (q24) also stay on minhashCandidates.
    *
    * `minSizeRatio > 0` prunes pairs that provably cannot pass exact
    * Jaccard verification at that threshold: J(A,B) ≤ min(|A|,|B|) /
    * max(|A|,|B|) (intersection bounded by the smaller set, union by
    * the larger), so pairs whose DISTINCT-shingle-count ratio is below
    * the verify threshold are dropped in-row before they ever reach
    * the verify join — requires `sigWide` built with
    * `minhashWide(..., withCount = true)` (the count rides as the
    * signature's trailing element; band slices never read it).
    */
  def minhashCandidatePairs(sigWide: DataFrame, numHashes: Int,
      rowsPerBand: Int, minSizeRatio: Double = 0.0): DataFrame =
    bucketCandidates(sigWide, numHashes, rowsPerBand, minSizeRatio,
      withCounts = false)

  /** [[minhashCandidatePairs]] plus each side's distinct-shingle count
    * (`cnt_a`, `cnt_b`, read from a `withCount = true` signature): the
    * driver verify sizes its documents from them before it collects a
    * single text ([[verifyCandidates]]). A doc's count is a function of
    * its text, so the pairs stay distinct on (doc_a, doc_b) — unless
    * one id carries two texts of different counts, whose pairs every
    * verifier drops (more than two sides, see [[verifyJaccardOneJoin]]).
    */
  private[graft] def countedCandidatePairs(sigWide: DataFrame,
      numHashes: Int, rowsPerBand: Int, minSizeRatio: Double): DataFrame =
    bucketCandidates(sigWide, numHashes, rowsPerBand, minSizeRatio,
      withCounts = true)

  private def bucketCandidates(sigWide: DataFrame, numHashes: Int,
      rowsPerBand: Int, minSizeRatio: Double, withCounts: Boolean)
      : DataFrame = {
    val cnt =
      if (minSizeRatio > 0 || withCounts)
        element_at(col("sig"), numHashes + 1)
      else lit(0L)
    val bands = withBands(sigWide, numHashes, rowsPerBand)
      .select(col("doc"), cnt.as("cnt"), col("band"), col("band_sig"))
    val buckets = bands.groupBy("band", "band_sig")
      .agg(sort_array(collect_list(struct(col("doc"), col("cnt"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
    // A pair sharing several bands appears once per band, so the pairs
    // are made distinct (verifyJaccardOneJoin's regroup counts rows,
    // see its scaladoc). The size-ratio prune runs inside the pair
    // emitter, so hopeless pairs never even reach the dedup exchange.
    bucketPairs(buckets, sizeRatioKeeps(minSizeRatio), withCounts)
      .distinct()
  }

  /** The in-row i<j combinations of each bucket's sorted `ds` array
    * (structs with a leading `doc` field) as (doc_a, doc_b) rows, doc_a
    * < doc_b by construction (the struct sort orders by doc first), and
    * with `withCounts` the two entries' `cnt` as (cnt_a, cnt_b). Only
    * combinations `keep(a, b)` accepts are emitted.
    */
  private def bucketPairs(buckets: DataFrame,
      keep: (Column, Column) => Column,
      withCounts: Boolean = false): DataFrame = {
    val out = Seq("doc_a", "doc_b") ++
      (if (withCounts) Seq("cnt_a", "cnt_b") else Nil)
    buckets
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ds")) - 2),
        i => filter(
          transform(
            sequence(i + 1, size(col("ds")) - 1),
            j => {
              val (a, b) =
                (element_at(col("ds"), i + 1), element_at(col("ds"), j + 1))
              val counts =
                if (withCounts) Seq(a("cnt").as("cnt_a"), b("cnt").as("cnt_b"))
                else Nil
              struct(Seq(a("doc").as("doc_a"), b("doc").as("doc_b")) ++
                counts :+ keep(a, b).as("keep"): _*)
            }),
          p => p("keep"))))).as("p"))
      .select(out.map(c => col(s"p.$c").as(c)): _*)
  }

  /** The size-ratio verify-prune on two bucket entries' `cnt`: J(A,B) ≤
    * min(|A|,|B|) / max(|A|,|B|), so a pair below `ratio` cannot pass
    * exact verification at that threshold.
    */
  private def sizeRatioKeeps(ratio: Double)(a: Column, b: Column): Column =
    least(a("cnt"), b("cnt")).cast("double") >=
      greatest(a("cnt"), b("cnt")) * lit(ratio)

  /** Incremental cross-corpus LSH candidates: near-dup pairs between a
    * NEW batch and the EXISTING corpus, from their (independently
    * computed) wide signatures — the nightly-ingest shape, where the
    * corpus signature table is materialized once and only the new
    * batch's signatures are computed per run. Dedup-within-batch is
    * [[minhashCandidates]]'s job; this finds new-vs-corpus collisions
    * without re-banding or re-scanning corpus text.
    *
    * Scale shape: both sides explode to (doc, band, band_sig) keys and
    * equi-join on the full band signature — work scales with true
    * collisions, and the (usually small) new-batch side is the natural
    * broadcast candidate, which AQE converts at runtime. No self-join,
    * so no doc_a < doc_b filter: output is (new_doc, corpus_doc).
    */
  def minhashCandidatesAgainst(newSig: DataFrame, corpusSig: DataFrame,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    def banded(sig: DataFrame, docAs: String, sigAs: String): DataFrame =
      withBands(sig, numHashes, rowsPerBand)
        .select(col("doc").as(docAs), col("sig").as(sigAs), col("band"),
          col("band_sig"))
    // no persist: unlike the self-join in minhashCandidates, each
    // side's signature pipeline executes exactly once here
    banded(newSig, "new_doc", "sig_n")
      .join(banded(corpusSig, "corpus_doc", "sig_c"),
        Seq("band", "band_sig"))
      .groupBy("new_doc", "corpus_doc")
      .agg(first(col("sig_n")).as("sig_n"), first(col("sig_c")).as("sig_c"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_n"), col("sig_c"), _ === _), x => x))
          / lit(numHashes.toDouble))
      .select("new_doc", "corpus_doc", "est_jaccard")
  }

  /** Pairs-only variant of [[minhashCandidatesAgainst]]: batch-vs-corpus
    * LSH candidates WITHOUT the est_jaccard estimate, so the band join
    * carries (doc, band, band_sig) keys only — no signature arrays move
    * through the shuffle or the dedup exchange. The nightly-ingest fast
    * path: downstream exact verification re-derives what it needs from
    * the base table, so hauling 16-long arrays per banded row to compute
    * an estimate nobody reads is pure waste at corpus scale.
    * Output: (new_doc, corpus_doc), distinct.
    */
  def minhashCandidatePairsAgainst(newSig: DataFrame, corpusSig: DataFrame,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    def banded(sig: DataFrame, docAs: String): DataFrame =
      withBands(sig, numHashes, rowsPerBand)
        .select(col("doc").as(docAs), col("band"), col("band_sig"))
    banded(newSig, "new_doc")
      .join(banded(corpusSig, "corpus_doc"), Seq("band", "band_sig"))
      .select("new_doc", "corpus_doc")
      .distinct()
  }

  /** Banded rows of a wide signature table (built `withCount = true`):
    * (doc, band, band_sig, cnt) — the persisted form of the LSH
    * banding index. Building these rows costs an interpreted
    * slice/join pass per signature, so a store computes them ONCE per
    * corpus version ([[SignatureStore.build]]/appendBatch) instead of
    * re-deriving them from signatures every night (measured ~2.5s of
    * the nightly floor at the 100× dir).
    */
  def bandRowsOf(sigWide: DataFrame, numHashes: Int, rowsPerBand: Int)
      : DataFrame =
    withBands(sigWide, numHashes, rowsPerBand)
      .select(col("doc"), col("band"), col("band_sig"),
        // fail fast on a count-less signature table (withCount=false):
        // a silently-NULL cnt would make the size-ratio prune drop
        // candidate pairs — duplicates missed with no error
        when(size(col("sig")) === numHashes + 1,
          element_at(col("sig"), numHashes + 1))
          .otherwise(raise_error(concat(
            lit(s"bandRowsOf: expected signature arrays of ${numHashes + 1} " +
              "elements (numHashes + trailing distinct-shingle count; " +
              "build with withCount=true), got "),
            size(col("sig")).cast("string"))))
          .as("cnt"))

  /** The ACTUALLY-incremental nightly dedup pass: cluster a new batch
    * against a corpus whose MinHash signatures and component labels were
    * PERSISTED by a previous run — only the batch is signed; no corpus
    * text is re-read and no corpus signature is re-computed.
    *
    * This is the difference between demonstrating the operator and
    * demonstrating the pipeline: at 100 TB, re-signing the corpus every
    * night costs the same as from-scratch clustering
    * ([[connectedComponents]] over everything), which makes the
    * incremental operator pointless. Reading yesterday's signature table
    * (the matview-style cache-the-heavy-thing pattern — reference
    * analog `common/popularity/README.md:9-12`) makes the nightly cost
    * O(batch + true collisions), independent of corpus size.
    *
    * Inputs: `corpusBands` (doc, band, band_sig, cnt) and
    * `corpusLabels` (node, label) as persisted by
    * [[SignatureStore.ensureCorpusState]] — the banding index is part
    * of the store, so the nightly path never re-derives it; `batch` =
    * tonight's new documents; `textLookup` = a table resolving ANY
    * candidate doc id (batch or corpus) to its text — exact verification
    * broadcast-semi-joins the small candidate id set against it, so only
    * flagged documents' text is ever read.
    *
    * Plan shape: one codegen'd signature map over the batch (banded +
    * persisted — consumed by its own bucket rows and the corpus
    * prefilter key set), a broadcast semi-join that streams the corpus
    * BAND scan down to colliding rows BEFORE any exchange,
    * one bucket aggregation over batch + colliding rows, exact verify
    * over candidate pairs, and [[incrementalComponents]]' label
    * contraction (≤ |new edges| rows propagated; the corpus label
    * table only ever streams against broadcast sides). Shuffled bytes
    * are O(batch + true collisions) end to end.
    *
    * Output: (node, label) for every clustered doc — identical to a
    * from-scratch [[connectedComponents]] over the full corpus ∪ batch
    * (LSH banding is per-document deterministic, so the incremental
    * candidate arms partition the full-corpus candidate set exactly).
    */
  def incrementalFromStore(corpusBands: DataFrame, corpusLabels: DataFrame,
      batch: DataFrame, textLookup: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, rowsPerBand: Int,
      minJaccard: Double, caches: CacheHandle = CacheHandle.session)
      : DataFrame =
    incrementalFromStoreWithDelta(corpusBands, corpusLabels, batch,
      textLookup, idCol, textCol, shingleK, numHashes, rowsPerBand,
      minJaccard, caches)._1

  /** [[incrementalFromStore]] plus the label DELTA (see
    * [[incrementalComponentsWithDelta]]) — the frame an O(changed)
    * nightly label commit persists. Both outputs are lazy plans over
    * the same candidate/verify lineage; consuming only one costs
    * nothing for the other.
    *
    * @param preSigned when Some, an ALREADY-persisted-and-materialized
    *   wide signature frame for `batch` ([[minhashWide]] with
    *   withCount=true) — the nightly loop signs the batch exactly once
    *   and shares the frame between this candidate pass and the
    *   store's segment commit ([[SignatureStore.foldNight]]); when
    *   None, the batch is signed (and cached) here.
    */
  def incrementalFromStoreWithDelta(corpusBands: DataFrame,
      corpusLabels: DataFrame, batch: DataFrame, textLookup: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      rowsPerBand: Int, minJaccard: Double,
      caches: CacheHandle = CacheHandle.session,
      preSigned: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // Candidate pass, O(batch + true collisions) SHUFFLED BYTES: the
    // batch is signed once (codegen'd map), banded, and persisted (two
    // consumers: its own bucket rows and the corpus prefilter key set);
    // the corpus side is a columnar read of the persisted BAND table
    // (doc, band, band_sig, cnt — banding computed once per corpus
    // version, never re-derived nightly) whose rows are SEMI-JOINED
    // against the batch's (band, band_sig) key set BEFORE the bucket
    // shuffle. The key set is batch-sized, so the planner broadcasts it
    // and the corpus scan streams — no corpus row ever enters an
    // exchange unless it collides with a batch band. (The r13 sf10
    // probe motivated this: without the prefilter the bucket groupBy
    // shuffled every corpus band row, which made the "incremental" pass
    // scale with |corpus| — batch-size-insensitive wall times.) Within-
    // batch and batch-vs-corpus candidates still fall out of the SAME
    // buckets, pairs are emitted in-row with an is_new flag, and
    // corpus-corpus pairs (already folded into the persisted labels)
    // cannot survive the prefilter+is_new gate.
    //
    // batch signatures carry the trailing distinct-shingle count, like
    // the persisted corpus bands — the size-ratio verify-prune
    // (see minhashCandidatePairs) then drops provably-hopeless pairs
    // in-row before the verify ever sees them.
    // The WIDE signature frame is what gets persisted (not the banded
    // rows): the banding is a cheap explode over the cached
    // signatures, and caching the wide form lets the nightly commit
    // ([[SignatureStore.foldNight]]) reuse the exact same frame — the
    // batch text is scanned and MinHashed ONCE per night, not once for
    // candidates and again for the segment write.
    val sig = preSigned.getOrElse(CacheHandle.eager(caches.track(
      minhashWide(batch, idCol, textCol, shingleK, numHashes,
        withCount = true).persist())))
    val batchBands = bandRowsOf(sig, numHashes, rowsPerBand)
      .withColumn("is_new", lit(true))
    val corpusHits = corpusBands.withColumn("is_new", lit(false))
      .join(batchBands.select("band", "band_sig").distinct(),
        Seq("band", "band_sig"), "left_semi")
    val buckets = batchBands.unionByName(corpusHits)
      .groupBy("band", "band_sig")
      .agg(sort_array(collect_list(struct(col("doc"),
        col("cnt"), col("is_new")))).as("ds"))
      .filter(size(col("ds")) > 1 &&
        exists(col("ds"), d => d("is_new")))
    val pairs = bucketPairs(buckets, (a, b) =>
      (a("is_new") || b("is_new")) && sizeRatioKeeps(minJaccard)(a, b))
    // inline verify: the candidate frame has ONE consumer (the role-row
    // broadcast build), so verification flows lazily into the edge
    // persist inside incrementalComponents
    val verified = verifyJaccardInline(pairs.distinct(), textLookup,
      idCol, textCol, shingleK, minJaccard)
    incrementalComponentsWithDelta(corpusLabels, verified, "doc_a",
      "doc_b", caches = caches)
  }

  /** Exact Jaccard verification in ONE join: each candidate pair
    * explodes into two role rows (a/b), the per-doc shingle-set frame
    * is joined ONCE on doc, and a (doc_a, doc_b) regroup reassembles
    * both sets in-row for the intersection.
    *
    * The candidate doc ids (tiny) broadcast-semi-join `docs`, and the
    * codegen'd [[graft.functions.ShingleSetExpr]] builds each candidate
    * doc's distinct shingle array in ONE per-row loop — no explode, no
    * aggregation shuffle (the exploded shingle-row form shuffled ~2M
    * rows per execution at sf0.1, measured 3-6s for what is a ~0.3s
    * narrow map; the [[shingles]] array column is no better — its
    * higher-order lambdas are interpreted and re-evaluate the embedded
    * split() per element, O(words²) per doc). Joining the set frame
    * twice instead (set_a, set_b) would force a persist + eager
    * materialization (two aliased consumers are concurrent AQE stages —
    * each would re-run the corpus text scan and set build). Here the
    * set frame has one consumer, so the whole verify is one job with no
    * cached state: broadcast of the candidate doc ids, one equi-join,
    * one pair regroup. Output: pairs where both docs have non-empty
    * shingle sets and exact Jaccard ≥ `minJaccard`. Row width is
    * bounded by `maxDocChars` (a capped doc's distinct 3-shingle array
    * is a few MB worst-case).
    *
    * Pass `candidates` distinct (any groupBy/DISTINCT output) — a
    * duplicated pair would double its role rows and corrupt the
    * regroup's `n_sides` guard. (A countDistinct(role) guard would
    * tolerate duplicates, but Spark plans distinct-aggregates with an
    * Expand + an extra exchange that drags the shingle-set arrays
    * through two shuffle phases — measured 2.8× slower at sf0.1 than
    * deduplicating the tiny pair list upstream.)
    */
  def verifyJaccardOneJoin(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, shingleK: Int, minJaccard: Double,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars): DataFrame = {
    val candDocs = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
      .distinct()
    val sets = docs.select(col(idCol), col(textCol))
      .join(broadcast(candDocs), Seq(idCol))
      .select(col(idCol).as("doc"),
        shingleSet(textCol, shingleK, maxDocChars).as("shset"))
      .filter(size(col("shset")) > 0)
    val sides = candidates.select(col("doc_a"), col("doc_b"),
        explode(array(
          struct(col("doc_a").as("doc"), lit("a").as("role")),
          struct(col("doc_b").as("doc"), lit("b").as("role")))).as("s"))
      .select(col("doc_a"), col("doc_b"),
        col("s.doc").as("doc"), col("s.role").as("role"))
    pairJaccard(sides.join(sets, Seq("doc")), minJaccard)
  }

  /** Exact Jaccard verification as ONE unbroken pipeline: the candidate
    * pairs explode into role rows, BROADCAST, and hash-join the base
    * table directly — matched rows compute their shingle set in-line
    * ([[graft.functions.ShingleSetExpr]]) and regroup by pair.
    *
    * vs [[verifyJaccardOneJoin]]: that form pre-narrows the corpus with
    * a broadcast semi-join on the distinct candidate doc ids and joins
    * the per-doc set frame once — which needs the candidate frame read
    * TWICE (id side + role side), forcing callers to persist +
    * eagerly materialize it as its own job. Here the candidate frame
    * has exactly ONE consumer (the broadcast build), so the whole
    * verify — candidate generation included — executes lazily inside
    * whatever action consumes the output; no cached state, no extra
    * job. The corpus is still never shuffled: it streams through the
    * broadcast join exactly as through the semi-join.
    *
    * Trade-off: a document appearing in k candidate pairs builds its
    * shingle set k times (once per matched role row) instead of once —
    * acceptable when the candidate multigraph is near-1-regular (LSH
    * near-dup output: most docs sit in ≤ 2 pairs), wasteful for hub
    * documents; callers with hub-heavy pair lists keep OneJoin. The
    * broadcast bound is |pairs| (vs OneJoin's |candidate docs|) — both
    * are tiny relative to the corpus by LSH construction.
    *
    * Pass `candidates` distinct, as with OneJoin (the n_sides guard).
    */
  def verifyJaccardInline(candidates: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, shingleK: Int, minJaccard: Double,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars): DataFrame = {
    val sides = candidates.select(
        explode(array(
          struct(col("doc_a"), col("doc_b"), col("doc_a").as("doc"),
            lit("a").as("role")),
          struct(col("doc_a"), col("doc_b"), col("doc_b").as("doc"),
            lit("b").as("role")))).as("s"))
      .select(col("s.doc_a").as("doc_a"), col("s.doc_b").as("doc_b"),
        col("s.doc").as(idCol), col("s.role").as("role"))
    pairJaccard(docs.select(col(idCol), col(textCol))
      .join(broadcast(sides), Seq(idCol))
      .select(col("doc_a"), col("doc_b"), col("role"),
        shingleSet(textCol, shingleK, maxDocChars).as("shset"))
      .filter(size(col("shset")) > 0), minJaccard)
  }

  /** A capped document's distinct k-word shingles as one array, built
    * by the codegen'd [[graft.functions.ShingleSetExpr]].
    */
  private def shingleSet(textCol: String, shingleK: Int,
      maxDocChars: Int): Column =
    graft.functions.ShingleSetExpr(
      TextAnalysis.capDoc(col(textCol), maxDocChars), shingleK)

  /** The verifiers' shared tail: role rows (doc_a, doc_b, role, shset)
    * regroup by pair, pairs missing a side's non-empty set drop out, and
    * the exact Jaccard of the two sets is thresholded.
    */
  private def pairJaccard(roleRows: DataFrame, minJaccard: Double)
      : DataFrame =
    roleRows.groupBy("doc_a", "doc_b")
      .agg(
        first(when(col("role") === "a", col("shset")), ignoreNulls = true)
          .as("set_a"),
        first(when(col("role") === "b", col("shset")), ignoreNulls = true)
          .as("set_b"),
        count(lit(1)).as("n_sides"))
      .filter(col("n_sides") === 2) // both docs had non-empty sets
      .withColumn("inter",
        size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("inter") /
        (size(col("set_a")) + size(col("set_b")) - col("inter"))
          .cast("double"))
      .filter(col("jaccard") >= lit(minJaccard))
      .select("doc_a", "doc_b", "jaccard")

  /** Verified near-duplicate pairs (doc_a < doc_b, jaccard ≥
    * `minJaccard`) of `docs`, from its signature frame `sig`
    * ([[minhashWide]] with `withCount = true`): LSH bucket candidates
    * with the size-ratio prune at `minJaccard`
    * ([[minhashCandidatePairs]]), then the exact verify
    * ([[verifyCandidates]]): on the driver while the candidates and
    * their documents fit the local byte budget, else
    * [[verifyJaccardOneJoin]].
    *
    * Plan shape: the signature scan has ONE consumer (the bucket
    * grouping — no banded self-join), and the tiny candidate pair list
    * is eagerly persisted: the driver verify collects it, and the
    * fallback's two consumers (candidate-doc broadcast, role explode)
    * are concurrent AQE stages that would otherwise each re-run the
    * signature scan. Within the budget the verified pairs are a local
    * relation — one collect of the candidate documents, no verify
    * exchange; past it they are lazy and distinct. `sig` comes in
    * rather than being signed here so a caller that also writes it
    * ([[SignatureStore.build]]) shares one persisted frame.
    */
  def nearDupPairs(sig: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, rowsPerBand: Int,
      minJaccard: Double, caches: CacheHandle = CacheHandle.session)
      : DataFrame = {
    val cand = caches.track(countedCandidatePairs(sig, numHashes,
      rowsPerBand, minSizeRatio = minJaccard).persist())
    val nPairs = CacheHandle.fill(cand)
    verifyCandidates(cand, nPairs, docs, idCol, textCol, shingleK,
      minJaccard)
  }

  /** [[verifyJaccardOneJoin]]'s rows and schema: computed on the driver
    * ([[localJaccard]]) as a local relation when the pairs, their
    * documents' capped texts and shingle sets fit `byteBudget`
    * estimated bytes, else [[verifyJaccardOneJoin]] itself.
    * `candidates` — `nPairs` distinct rows of [[countedCandidatePairs]]
    * — must be persisted and filled: the driver path collects it, and
    * the fallback reads it twice.
    */
  private[graft] def verifyCandidates(candidates: DataFrame, nPairs: Long,
      docs: DataFrame, idCol: String, textCol: String, shingleK: Int,
      minJaccard: Double, byteBudget: Long = localEdgeByteBudget)
      : DataFrame =
    localJaccard(candidates, nPairs, docs, idCol, textCol, shingleK,
        minJaccard, byteBudget) match {
      case Some(rows) =>
        candidates.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
          candidates.schema("doc_a"), candidates.schema("doc_b"),
          StructField("jaccard", DoubleType))))
      case None =>
        verifyJaccardOneJoin(candidates, docs, idCol, textCol, shingleK,
          minJaccard)
    }

  /** The exact verify on the driver, sized before each collect so that
    * a candidate set past the budget costs the fallback at most one
    * collect of the cached pairs and never a text: the pair count
    * against the local row cap and the budget, then the collected
    * pairs' `cnt_a`/`cnt_b` against it ([[candidateDocBytes]]). Only
    * then `(id, capped text)` of their distinct ids in ONE bounded
    * collect — filtered by membership in the driver's id set, so no
    * broadcast job and a plan (and generated code) that does not grow
    * with the ids — each text's set built by the distributed verify's
    * own kernel ([[graft.functions.ShingleSetExpr.shingleSet]]) from the
    * text's exact UTF-8 bytes and charged at its actual size, and
    * [[pairJaccard]]'s arithmetic. None — run the distributed verify —
    * wherever the local result could differ or would not fit: a null
    * endpoint, a key type [[estKeyBytes]] rejects or a `docs` id of
    * another type, a repeated pair or an id collected twice (the join's
    * `n_sides` guard drops their pairs), or pairs, ids, texts and sets
    * past `byteBudget` estimated bytes. As in the join, a null text or
    * one with fewer than k words has no set: its pairs drop. A text far
    * longer than its distinct shingles suggest (one phrase repeated) is
    * collected before its bytes are counted; spark.driver.maxResultSize
    * bounds that collect.
    */
  private def localJaccard(candidates: DataFrame, nPairs: Long,
      docs: DataFrame, idCol: String, textCol: String, shingleK: Int,
      minJaccard: Double, byteBudget: Long): Option[Seq[Row]] = {
    val keyType = candidates.schema("doc_a").dataType
    val estKey = estKeyBytes(keyType)
    // each pair: its collected row of two keys and two counts, and its
    // entry in the repeated-pair check's set
    def pairBytes(pairs: Array[Row]) =
      collectedBytes(pairs, estKey) + 64L * pairs.length
    val fits = estKey > 0 && nPairs <= localEdgeRows &&
      nPairs * (48L + 4L * estKey + 64L) <= byteBudget &&
      candidates.schema("doc_b").dataType == keyType &&
      docs.schema(idCol).dataType == keyType
    for {
      pairs <- if (!fits) None else boundedCollect(
        candidates.select("doc_a", "doc_b", "cnt_a", "cnt_b"))
      if !pairs.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
        pairs.iterator.map(r => (r.get(0), r.get(1))).toSet.size ==
          pairs.length
      cnt = docCounts(pairs)
      if pairBytes(pairs) + cnt.valuesIterator.map(c =>
        candidateDocBytes(c, shingleK, estKey)).sum <= byteBudget
      member: UDF1[Any, Boolean] = id => cnt.contains(id)
      texts <- boundedCollect(docs
        .filter(udf(member, BooleanType)(col(idCol)))
        .select(col(idCol),
          TextAnalysis.capDoc(col(textCol)).cast("binary")))
      sets <- shingleSets(texts, shingleK, estKey,
        byteBudget - pairBytes(pairs) - idEntryBytes * cnt.size)
    } yield pairs.toSeq.flatMap { r =>
      val (a, b) = (sets.get(r.get(0)), sets.get(r.get(1)))
      if (a == null || b == null || a.isEmpty || b.isEmpty) None
      else {
        val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
        val inter = small.asScala.count(large.contains)
        val jaccard = inter.toDouble / (a.size + b.size - inter).toDouble
        if (jaccard >= minJaccard) Some(Row(r.get(0), r.get(1), jaccard))
        else None
      }
    }
  }

  /** Each candidate id → the largest distinct-shingle count
    * (`cnt_a`/`cnt_b`, null as 0) its collected `(doc_a, doc_b, cnt_a,
    * cnt_b)` pairs carry: the driver verify's id set, shipped to the
    * text collect's membership filter.
    */
  private def docCounts(pairs: Array[Row])
      : scala.collection.mutable.HashMap[Any, Long] = {
    val cnt = scala.collection.mutable.HashMap.empty[Any, Long]
    for (r <- pairs; s <- 0 to 1) {
      val c = if (r.isNullAt(2 + s)) 0L else r.getAs[Number](2 + s).longValue
      cnt.update(r.get(s), math.max(c, cnt.getOrElse(r.get(s), 0L)))
    }
    cnt
  }

  /** Driver bytes of one entry of [[docCounts]]' map. */
  private val idEntryBytes = 72L

  /** A candidate doc's estimated driver bytes in the driver verify
    * before its text is seen, from its distinct-shingle count `cnt`:
    * its id entry, its text row (~64 B + key) and its shingle set as
    * [[shingleSets]] charges them, each shingle ~96 B plus its k words,
    * and the text ~one word per shingle, at ~6 B a word.
    */
  private def candidateDocBytes(cnt: Long, k: Int, estKey: Long): Long =
    idEntryBytes + 64L + estKey + cnt * (96L + 6L * k + 6L)

  /** id → distinct shingle set of `(id, capped text bytes)` rows (empty
    * for a null or short text), or None when an id repeats or the
    * estimated bytes pass `budget`: each text row ~64 B + key + its
    * bytes, each shingle ~96 B of UTF8String, copied bytes and set
    * entry + its bytes.
    */
  private def shingleSets(texts: Array[Row], k: Int, estKey: Long,
      budget: Long)
      : Option[java.util.Map[Any, java.util.Set[UTF8String]]] = {
    val sets = new java.util.HashMap[Any, java.util.Set[UTF8String]]()
    var bytes = 0L
    var i = 0
    while (i < texts.length && bytes <= budget &&
        !sets.containsKey(texts(i).get(0))) {
      val set = new java.util.HashSet[UTF8String]()
      if (!texts(i).isNullAt(1)) {
        val text = texts(i).getAs[Array[Byte]](1)
        val arr = graft.functions.ShingleSetExpr.shingleSet(
          UTF8String.fromBytes(text), k)
        bytes += 64L + estKey + text.length
        for (j <- 0 until arr.numElements()) {
          val sh = arr.getUTF8String(j)
          set.add(sh)
          bytes += 96L + sh.numBytes
        }
      }
      sets.put(texts(i).get(0), set)
      i += 1
    }
    if (i == texts.length && bytes <= budget) Some(sets) else None
  }

  /** Near-duplicate clusters of `docs`: [[connectedComponents]] over
    * [[nearDupPairs]] — (node, label) for every document in a verified
    * pair, label = its cluster's smallest doc id. Pairs verified on
    * the driver come in as a local relation, which the components'
    * local path collects with no job; past the budget the verified
    * pairs are not persisted — the components' edge doubling is one
    * explode scan, so the verify pipeline has exactly ONE consumer.
    */
  def nearDupComponents(sig: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, rowsPerBand: Int,
      minJaccard: Double, caches: CacheHandle = CacheHandle.session)
      : DataFrame =
    connectedComponents(nearDupPairs(sig, docs, idCol, textCol, shingleK,
      numHashes, rowsPerBand, minJaccard, caches), "doc_a", "doc_b",
      distinctEdges = true)

  /** Driver-heap working budget for the local union-find paths
    * ([[connectedComponents]], [[incrementalComponentsWithDelta]]) and
    * the driver verify ([[verifyCandidates]]): every array those paths
    * collect must fit in this many estimated bytes or the call falls
    * back to the distributed path. Peak local footprint (collect +
    * parent map + result rows) is a small multiple (~3x) of the budget
    * — ~0.75 GB worst case against the 8 GB driver this engine
    * documents.
    */
  private val localEdgeByteBudget: Long = 256L << 20

  /** Default ROW cap of the local paths' edge collect. */
  private val localEdgeRows = 2000000

  /** JVM-side "less than" matching the distributed min-aggregate's
    * ordering, for the local union-find paths: strings compare as
    * UTF-8 BYTES (UTF8String's binary order — Java String.compareTo
    * is UTF-16 code-unit order, which sorts supplementary characters
    * below U+E000..U+FFFF, the opposite of code-point/UTF-8 order);
    * every other supported key type through its Comparable, whose
    * ordering coincides with Spark's for integrals, decimals of one
    * scale, dates, timestamps and booleans.
    */
  @annotation.nowarn("cat=other-match-analysis")
  private[operators] def localLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      val xb = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val yb = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(xb.length, yb.length)
      var i = 0
      var c = 0
      while (i < n && c == 0) {
        c = (xb(i) & 0xff) - (yb(i) & 0xff)
        i += 1
      }
      (if (c != 0) c else xb.length - yb.length) < 0
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
  }

  /** Estimated collected JVM bytes of one key of type `t`, or 0 for a
    * type the local paths do not take. A type qualifies when (a) its
    * JVM ordering provably matches the distributed min-aggregate's
    * ([[localLt]]) and (b) it admits a byte estimate, so the budget
    * bounds DRIVER MEMORY, not just a row count. String ≈ 48 B header +
    * 2 B/char at the type's 20-char defaultSize (re-checked per value
    * after the collect); boxed fixed-width types ≈ 24-48 B.
    * Floats/doubles are excluded outright (±0.0 equality diverges
    * between java.lang.Double.equals and Spark's normalized comparison;
    * no caller keys components on floats); arrays/structs are not
    * Comparable.
    */
  private def estKeyBytes(t: DataType): Long = t match {
    case StringType => 88L
    case _: DecimalType => 48L
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType => 24L
    case _ => 0L
  }

  /** Collected bytes of rows of keys: ~48 B of Row/array scaffolding
    * per row plus each key, strings by their actual length.
    */
  private def collectedBytes(rows: Array[Row], estKey: Long): Long =
    rows.iterator.map { r =>
      48L + r.toSeq.iterator.map {
        case s: String => 48L + 2L * s.length
        case _ => estKey
      }.sum
    }.sum

  /** `df.collect()`, or None when the result would pass
    * spark.driver.maxResultSize (pathological strings under the
    * estimate): the caller then runs the distributed path instead of
    * failing a query the propagation could still run.
    */
  private def boundedCollect(df: DataFrame): Option[Array[Row]] =
    try Some(df.collect())
    catch { case e: org.apache.spark.SparkException
        if String.valueOf(e.getMessage).contains("maxResultSize") => None
    }

  /** The (aCol, bCol) edges collected to the driver for a local
    * union-find, or None where the distributed path must run: a cap of
    * 0, an unsupported or mismatched key type ([[estKeyBytes]]), more
    * rows than the ROW cap — the smaller of `localEdgeCap` and
    * [[localEdgeByteBudget]] over the estimated row width — more
    * actual bytes than the budget, or a null endpoint (null semantics
    * stay EXACTLY the propagation's; LSH pairs are non-null by
    * construction, the guard is for arbitrary callers).
    */
  private def collectLocalEdges(edges: DataFrame, aCol: String,
      bCol: String, localEdgeCap: Int): Option[Array[Row]] = {
    val keyType = edges.schema(aCol).dataType
    val estKey = estKeyBytes(keyType)
    if (localEdgeCap <= 0 || estKey == 0 ||
        edges.schema(bCol).dataType != keyType) None
    else {
      // the budget covers the collected edge array — the parent map and
      // the result rows scale with the same node count. 256 MB keeps
      // the long-key row cap at the established 2M while making
      // wide-string graphs byte-bound
      val effCap = math.min(localEdgeCap.toLong,
        localEdgeByteBudget / (48L + 2L * estKey)).toInt
      boundedCollect(edges.select(col(aCol), col(bCol)).limit(effCap + 1))
        .filter(el => el.length <= effCap &&
          !el.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
          collectedBytes(el, estKey) <= localEdgeByteBudget)
    }
  }

  /** Min-label union-find over `edges`: every endpoint → its
    * component's minimum node under [[localLt]] — exactly the label the
    * distributed propagation converges to, deterministically.
    */
  private def minLabelRoots(edges: Iterator[(Any, Any)]): Map[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != null && parent.get(r) != r)
        r = parent.get(r)
      var c = x
      while (c != r && parent.get(c) != c) {
        val next = parent.get(c); parent.put(c, r); c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      if (parent.get(a) == null) parent.put(a, a)
      if (parent.get(b) == null) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      // the min label becomes the root, so the final map needs no
      // second ordering pass
      if (ra != rb) {
        if (localLt(ra, rb)) parent.put(rb, ra)
        else parent.put(ra, rb)
      }
    }
    parent.keySet.asScala.iterator.map(n => n -> find(n)).toMap
  }

  /** `df`'s rows when it is a local relation (the driver paths of
    * [[connectedComponents]] and [[nearDupPairs]]) whose `keyCol` has a
    * type the local paths key on ([[estKeyBytes]]) — collected with no
    * Spark job — else None.
    */
  private[graft] def localRows(df: DataFrame, keyCol: String)
      : Option[Array[Row]] = df.queryExecution.logical match {
    case _: LocalRelation if estKeyBytes(df.schema(keyCol).dataType) > 0 =>
      Some(df.collect())
    case _ => None
  }

  /** A local relation of key pairs, both columns of type `t`. */
  private def localPairs(spark: SparkSession, pairs: Iterable[(Any, Any)],
      k: String, v: String, t: DataType): DataFrame =
    spark.createDataFrame(
      pairs.map { case (a, b) => Row(a, b) }.toSeq.asJava,
      StructType(Seq(StructField(k, t), StructField(v, t))))

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: each node's label converges to the SMALLEST
    * node id reachable from it, so the label doubles as the cluster's
    * deterministic keeper (the surviving document of a near-dup group).
    *
    * This is the missing last stage of the dedup pipeline: LSH finds
    * candidate PAIRS, exact Jaccard verifies them — but duplicates come
    * in GROUPS (a≈b, b≈c ⇒ drop two of {a,b,c}), and pairwise keep-min
    * would wrongly keep b. Components resolve the transitive closure.
    *
    * Scale shape: each round is one join (labels onto edge endpoints) +
    * one min-aggregation — two key shuffles over |edges| rows; rounds =
    * component diameter. Near-dup clusters are overwhelmingly tiny
    * (pairs/triples), so 3–5 rounds converge in practice; `maxIter`
    * bounds adversarial chains. Every round ends in `localCheckpoint()`
    * to truncate lineage — without it the plan tree (and codegen time)
    * grows per iteration. The per-round `count()` is a scalar
    * convergence probe, not a data collect. For graphs with huge
    * diameters prefer alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"), which converges in
    * O(log²) rounds; for near-dup workloads the simple propagation does
    * fewer total shuffles.
    *
    * Output: (node, label) for every node that appears in an edge.
    *
    * @param localEdgeCap ROW cap for the driver-side union-find
    *   short-circuit (0 disables it). The effective cap is the smaller
    *   of this and [[localEdgeByteBudget]] over the schema-estimated
    *   row width, and a post-collect actual-bytes check re-guards
    *   string keys; node values must be non-null orderable atomics
    *   (string / integral / decimal / date / timestamp / boolean) or
    *   the distributed path runs instead.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, distinctEdges: Boolean = false,
      localEdgeCap: Int = localEdgeRows): DataFrame =
    // Bounded driver-side union-find first (r17, guide §1.2 "the
    // distributed algorithm"): near-dup EDGE sets are tiny relative to
    // their corpora by LSH construction (verified pairs ≈ true
    // duplicates), while the iterative propagation pays
    // (join + aggregate + checkpoint + convergence probe) scheduled
    // jobs PER ROUND — measured 3-5 jobs of pure fixed overhead per
    // invocation at sf0.1 for graphs that fit in kilobytes. When the
    // edge list fits under a bounded collect it is strictly cheaper to
    // resolve on the driver — ONE job materializes a lazy edge lineage
    // (the distributed verify), and edges that are already a local
    // relation (the driver verify, [[verifyCandidates]]) collect with
    // no job — and the result re-enters as a local relation every
    // consumer can broadcast. Graphs past the cap (a
    // corpus whose duplicate graph itself approaches driver memory)
    // fall back to the unchanged distributed propagation, discarding
    // the capped collect (one extra edge scan on the rare fallback);
    // `localEdgeCap = 0` forces it (specs pin local ≡ distributed).
    collectLocalEdges(edges, aCol, bCol, localEdgeCap) match {
      case Some(el) =>
        localPairs(edges.sparkSession,
          minLabelRoots(el.iterator.map(r => (r.get(0), r.get(1)))),
          "node", "label", edges.schema(aCol).dataType)
      case None => propagateComponents(edges, aCol, bCol, maxIter,
        distinctEdges)
    }

  /** [[connectedComponents]]' distributed min-label propagation. */
  private def propagateComponents(edges: DataFrame, aCol: String,
      bCol: String, maxIter: Int, distinctEdges: Boolean): DataFrame = {
    // doubled edge list: propagation must flow both directions. Callers
    // whose pairs are already distinct with aCol < bCol (any groupBy
    // output, e.g. verified near-dup pairs) pass distinctEdges = true —
    // the doubled union then has no duplicates by construction and the
    // dedup shuffle drops out of the plan. Doubling is ONE scan of
    // `edges` (explode of both orientations), not a two-arm union: a
    // union's arms become concurrent AQE stages, and when `edges` is a
    // caller's lazily-persisted pipeline both arms race to compute it
    // in full (see CacheHandle.eager — this was 2 × the whole q59
    // minhash→verify pipeline before round 0 even started).
    val doubled = edges.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val und = (if (distinctEdges) doubled else doubled.distinct()).persist()
    // round 0 folded into initialization: every node's first label is
    // min(self, direct neighbors) — ONE aggregation over the edge list,
    // where the generic round needs a join + an aggregation (and the
    // separate identity-label init needs its own distinct). The loop
    // below starts at round 1.
    var labels = und.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .withColumnRenamed("src", "node")
      .localCheckpoint(false)
    // convergence probe: the node set is fixed and labels only ever
    // decrease, so the label SUM strictly decreases until the fixed
    // point — comparing one scalar per round replaces a join + count
    // over the label frame (one aggregation job instead of a join job
    // per round; decimal accumulation cannot overflow). Probing the
    // folded round 0 here both materializes the lazy checkpoint and
    // lets a diameter-1 graph (pairs/stars — the common near-dup case)
    // converge after a single joined round.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      // empty-graph sum is NULL → coalesce to 0 so an edgeless call
      // (e.g. incrementalComponents with only intra-component edges)
      // converges instead of NPE-ing on the compare
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head
      if (s.isNullAt(0)) java.math.BigDecimal.ZERO else s.getDecimal(0)
    }
    var prevSum: java.math.BigDecimal = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // pull every neighbor's current label onto this node, keep the min
      val viaNeighbor = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("label"))
      // lazy checkpoint: the convergence aggregation right below is the
      // round's ONE materializing action (eager would run a separate
      // job first); later consumers read the checkpointed partitions
      val next = labels.union(viaNeighbor)
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint(false)
      val s = labelSum(next)
      // the convergence probe above materialized `next`'s checkpoint,
      // so the PREVIOUS round's blocks are dead — free them now.
      // clearCache() cannot (checkpoint blocks are RDD persistence, not
      // SQL cache), and without this the session accumulates one label
      // frame per round per invocation.
      org.apache.spark.sql.graftbridge.CheckpointBridge.release(labels)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    und.unpersist()
    // the returned frame keeps its (final-round) checkpoint: callers
    // typically consume it more than once (labels + cluster sizes).
    // LIFECYCLE at scale: that final checkpoint outlives this call and
    // is invisible to spark.catalog.clearCache() — a long-running
    // pipeline that invokes iterative operators hundreds of times per
    // session (r16 measured a 109-query bench suite) accumulates the
    // blocks until storage pressure slows every memory-hungry stage
    // 1.4-2x. When a result is fully consumed, release it with
    // CheckpointBridge.release(labels); a harness isolating units of
    // work can sweep everything between units with
    // CheckpointBridge.releaseAllPersisted(spark).
    labels
  }

  /** Incremental connected components: fold a batch of NEW edges into
    * an existing (node, label) assignment without re-propagating over
    * the corpus graph.
    *
    * Key invariant of [[connectedComponents]]: a component's label IS
    * its minimum node id. So each existing component can be CONTRACTED
    * to the single vertex `label`, and the merge effect of the new
    * edges is fully decided by components over the contracted graph:
    * map each new-edge endpoint to its existing label (itself if the
    * node is unseen), drop edges that stay inside one component, and
    * resolve components over what remains — at most |new edges| rows,
    * never the corpus. The resulting (old label → merged label) map
    * then rewrites the corpus frame in ONE broadcast-joined narrow scan
    * (the map is small — bounded by the number of components the batch
    * touches — so no shuffle of the corpus labels), and unseen
    * endpoints enter with their merged labels.
    *
    * Scale shape: under the driver byte budget (the nightly case) the
    * contraction and merge run on the driver after two bounded
    * collects (see [[incrementalComponentsWithDelta]]); past it, 2
    * small broadcast joins contract and the O(diameter) propagation
    * runs over ≤ |new edges| rows. Either way one narrow relabel scan
    * of the corpus frame follows. Equal labels to a from-scratch run
    * over old ∪ new edges (spec-asserted), at a per-batch cost
    * independent of corpus edge count.
    *
    * Output: (node, label) for every node of `labels` plus every node
    * appearing in `newEdges`.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 25,
      caches: CacheHandle = CacheHandle.session): DataFrame =
    incrementalComponentsWithDelta(labels, newEdges, aCol, bCol, maxIter,
      caches)._1

  /** [[incrementalComponents]] plus the CHANGED-ROW DELTA: the second
    * frame holds exactly the (node, label) rows that differ from the
    * input assignment — members of components the batch's edges merged
    * (their label was rewritten by the contraction map) plus nodes
    * entering the graph tonight. This is what an O(changed) label
    * commit persists ([[SignatureStore.appendBatch]]'s `labelDelta`):
    * writing the full merged assignment every night is O(corpus) bytes
    * for a delta that is O(batch + bridged-component members).
    *
    * Driver path (the nightly case): tonight's edges are collected
    * ONCE under the byte budget [[connectedComponents]] enforces
    * (`localEdgeCap` rows, [[localEdgeByteBudget]] estimated and
    * actual bytes, no null endpoint); the touched nodes' labels come
    * back in ONE collected lookup — a broadcast semi-join of `labels`
    * against a local relation of the touched ids, bounded by the same
    * budget — and the contraction and min-label union-find
    * ([[localLt]]) run on the driver. Both outputs are then plans over
    * `labels` and local relations only: the delta is `labels` filtered
    * to the relabelled old labels and mapped to their merged label
    * (no scan at all when no old label moved) plus the new nodes. Two
    * collects, no persist and no count: a fold night's label work
    * costs the edge lineage's own jobs plus the lookup's.
    *
    * Past the budget — or with a null endpoint or label, or key types
    * that differ between `labels` and the edges — the distributed
    * contraction runs instead: both frames are persisted, contracted
    * through broadcast joins and resolved by [[connectedComponents]]
    * (its own bounded local path first). Both outputs are lazy in
    * either path, so callers that ignore one pay nothing for it.
    *
    * @param localEdgeCap ROW cap of the driver path (0 forces the
    *   distributed one; specs pin both equal).
    */
  def incrementalComponentsWithDelta(labels: DataFrame,
      newEdges: DataFrame, aCol: String, bCol: String, maxIter: Int = 25,
      caches: CacheHandle = CacheHandle.session,
      localEdgeCap: Int = localEdgeRows): (DataFrame, DataFrame) = {
    val l = labels.select(col("node"), col("label"))
    val keyType = l.schema("node").dataType
    val local =
      if (l.schema("label").dataType != keyType ||
          newEdges.schema(aCol).dataType != keyType) None
      else for {
        el <- collectLocalEdges(newEdges, aCol, bCol, localEdgeCap)
        touched = el.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
          .toSet
        known <- lookupLabels(l, touched, keyType)
      } yield (el, touched, known)
    local match {
      case Some((el, touched, known)) =>
        // contract each endpoint to its existing component label
        // (itself if unseen) and merge on the driver: old label or new
        // node → merged label
        val roots = minLabelRoots(el.iterator
          .map(r => (known.getOrElse(r.get(0), r.get(0)),
            known.getOrElse(r.get(1), r.get(1))))
          .filter { case (ca, cb) => ca != cb })
        val spark = l.sparkSession
        // unseen endpoints enter with their merged labels; an unseen
        // node whose only edge is a self-loop contracts to nothing and
        // stays out, as in the distributed path
        val newRows = localPairs(spark,
          touched.flatMap(n =>
            if (known.contains(n)) None else roots.get(n).map(n -> _)),
          "node", "label", keyType)
        val moved = roots.filter { case (o, m) => o != m }
        if (moved.isEmpty) (l.union(newRows), newRows)
        else {
          // corpus rewrite: one streaming scan against the broadcast
          // (small, driver-built) relabel map
          val m = broadcast(
            localPairs(spark, moved, "old_label", "merged", keyType))
          val updated = l.join(m, l("label") === m("old_label"), "left")
            .select(col("node"),
              coalesce(col("merged"), col("label")).as("label"))
          val changed = l.join(m, l("label") === m("old_label"))
            .select(col("node"), col("merged").as("label"))
          (updated.union(newRows), changed.union(newRows))
        }
      case None =>
        contractDistributed(l, newEdges, aCol, bCol, maxIter, caches,
          localEdgeCap)
    }
  }

  /** The (node → label) rows of `l` whose node is in `touched`, in one
    * collected broadcast semi-join; None (distributed path) when the
    * result is not one non-null label per node within
    * [[localEdgeByteBudget]].
    */
  private def lookupLabels(l: DataFrame, touched: Set[Any],
      keyType: DataType): Option[Map[Any, Any]] =
    if (touched.isEmpty) Some(Map.empty)
    else {
      val ids = l.sparkSession.createDataFrame(
        touched.toSeq.map(Row(_)).asJava,
        StructType(Seq(StructField("node", keyType))))
      boundedCollect(l.join(broadcast(ids), Seq("node"), "left_semi"))
        .filter(found => found.length <= touched.size &&
          !found.exists(_.isNullAt(1)) &&
          collectedBytes(found, estKeyBytes(keyType)) <= localEdgeByteBudget)
        .map(_.iterator.map(r => r.get(0) -> r.get(1)).toMap)
    }

  /** [[incrementalComponentsWithDelta]] past the driver budget: the
    * contraction as persisted broadcast joins over edge-sized frames.
    */
  private def contractDistributed(l: DataFrame, newEdges: DataFrame,
      aCol: String, bCol: String, maxIter: Int, caches: CacheHandle,
      localEdgeCap: Int): (DataFrame, DataFrame) = {
    // The edge frame is consumed by the endpoint scan + the
    // contraction, so it is persisted — one materialization job for
    // the whole candidate-verify lineage. The corpus label table, by
    // contrast, must NEVER be shuffled: every join below streams it
    // against a broadcast small side (the r13 sf10 probe showed the
    // previous left-outer contractions sort-merge-shuffled the corpus
    // labels twice, making the nightly path scale with |corpus|
    // instead of |batch|).
    val e = CacheHandle.eager(caches.track(
      newEdges.select(col(aCol).as("a"), col(bCol).as("b")).persist()))
    val touched = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct()
    // labels of touched nodes only: corpus labels STREAM through a
    // broadcast semi-join (no exchange), output is edge-sized
    val lt = CacheHandle.eager(caches.track(
      l.join(broadcast(touched), Seq("node"), "left_semi").persist()))
    // contract endpoints to their existing component labels — all
    // broadcast joins over edge-sized frames
    val la = lt.select(col("node").as("a"), col("label").as("la"))
    val lb = lt.select(col("node").as("b"), col("label").as("lb"))
    val contracted = e.join(broadcast(la), Seq("a"), "left")
      .join(broadcast(lb), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("ca"),
        coalesce(col("lb"), col("b")).as("cb"))
      .filter(col("ca") =!= col("cb"))
    // components over the contracted graph: (old label or new node id)
    // → merged label. The map is consumed ONLY through broadcast()
    // below; a "batch" that merges millions of components should
    // rebuild the corpus, not fold nightly.
    val merged = connectedComponents(contracted, "ca", "cb",
        maxIter = maxIter, localEdgeCap = localEdgeCap)
      .withColumnRenamed("node", "old_label")
      .withColumnRenamed("label", "merged")
    // corpus rewrite: one streaming scan, broadcast of the merge map
    val updated = l.join(broadcast(merged),
        l("label") === merged("old_label"), "left")
      .select(col("node"), coalesce(col("merged"), col("label")).as("label"))
    // unseen endpoints (touched ∖ labeled) enter with their merged
    // labels. Every unseen node IS covered by `merged`: its contracted
    // edge keeps ca = node ≠ cb (it has no label to contract to), so it
    // survives the intra-component filter and appears keyed by its own
    // id. Both sides here are edge-sized — broadcast joins only.
    val unseen = touched.join(broadcast(lt), Seq("node"), "left_anti")
    val newRows = unseen.join(broadcast(merged),
        unseen("node") === merged("old_label"))
      .select(col("node"), col("merged").as("label"))
    // the delta: corpus rows whose label ACTUALLY moved (old ≠ merged —
    // the contraction map carries identity rows for component minima)
    // plus tonight's new nodes; same plan pieces, one extra narrow scan
    val changed = l.join(
        broadcast(merged.filter(col("old_label") =!= col("merged"))),
        l("label") === merged("old_label"))
      .select(col("node"), col("merged").as("label"))
    (updated.union(newRows), changed.union(newRows))
  }

  /** SimHash near-duplicate pairs: documents whose 64-bit simhashes
    * differ in at most `maxHamming` bits — the classic web-scale
    * near-dup detector (one 64-bit fingerprint per doc, constant
    * verify cost per pair, where MinHash needs a signature array and
    * set intersections).
    *
    * Banding is the pigeonhole argument: split the 64 bits into 4
    * 16-bit chunks — two hashes within hamming distance 3 must agree
    * EXACTLY on at least one chunk — so candidates come from four
    * chunk-value equi-joins, never |docs|². The banded frame carries
    * (doc, 4 small ints): no payload problem at any scale. Exact
    * verify is in-row: sum of bit_count(xor) over the chunks.
    * Requires `maxHamming` < 4 bands (pigeonhole soundness) — for
    * looser thresholds add bands.
    *
    * Output: (doc_a < doc_b, hamming), hamming <= maxHamming.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars,
      caches: CacheHandle = CacheHandle.session): DataFrame = {
    require(maxHamming < 4,
      s"4 x 16-bit bands are only sound for maxHamming < 4, got $maxHamming")
    val chunks = (0 until 4).map(i =>
      conv(substring(col("simhash"), i * 4 + 1, 4), 16, 10)
        .cast("int").as(s"c$i"))
    // persist + materialize: the banded self-join consumes this frame
    // on both sides (differently aliased — no exchange reuse), as
    // concurrent AQE stages that would otherwise race to compute the
    // upstream simhash scan twice (CacheHandle.eager). One row per
    // doc, 4 ints.
    val t = CacheHandle.eager(caches.track(
      simhash(docs, idCol, textCol, maxDocChars)
        .select(col("doc") +: chunks: _*)
        .persist()))
    def side(suffix: String) = t
      .withColumn("bk", explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), col(s"c$i").as("bv"))): _*)))
      .select(Seq(col("doc").as(s"doc$suffix"),
        col("bk.band").as("band"), col("bk.bv").as("bv")) ++
        (0 until 4).map(i => col(s"c$i").as(s"c$i$suffix")): _*)
    val a = side("_a")
    val b = side("_b")
    val hamming = (0 until 4).map(i =>
      bit_count(col(s"c${i}_a").bitwiseXOR(col(s"c${i}_b"))))
      .reduce(_ + _).cast("long")
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select((Seq(col("doc_a"), col("doc_b")) ++
        (0 until 4).flatMap(i => Seq(col(s"c${i}_a"), col(s"c${i}_b")))): _*)
      .distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` of a benchmark document's distinct k-word shingles —
    * the training-data hygiene pass that keeps evaluation suites out
    * of the corpus (n-gram overlap is the standard published recipe).
    *
    * Scale shape: the benchmark suite is SMALL by definition, so its
    * distinct shingle set broadcasts twice — once as a Bloom filter
    * probed INSIDE the corpus scan (the codegen'd
    * [[graft.functions.ShingleHitsExpr]] walks each document once and
    * emits only might-match shingles, so a clean corpus materializes
    * zero shingle rows; the exploded form built one UnsafeRow per
    * corpus TOKEN only to discard ~all of them at the join), and once
    * as the exact string set whose equi-join kills the Bloom's false
    * positives. The only shuffle in the plan carries HIT rows (corpus
    * shingles that appear in some benchmark doc) into the per-(doc,
    * bench) count. A corpus with zero contamination shuffles — and now
    * explodes — zero rows. Building the Bloom filter runs two actions
    * over the (small) benchmark frame at plan-construction time; like
    * the IVF centroid collects, that is a plan PARAMETER, O(bench).
    *
    * Output: (doc, bench_id, n_overlap, overlap_frac) for pairs at or
    * above the threshold, overlap_frac = distinct shared shingles /
    * benchmark doc's distinct shingles.
    *
    * @param prefilterFpp Bloom false-positive rate; only affects how
    *   many non-hit shingles survive to the exact join (cost), never
    *   the result.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, shingleK: Int, minOverlap: Double,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars,
      prefilterFpp: Double = 0.001,
      caches: CacheHandle = CacheHandle.session): DataFrame = {
    // two plan-construction actions over the persisted bench shingles:
    // the sizing count (which doubles as the cache materialization —
    // no separate eager job) and the Bloom aggregate over the cache
    val bsh = caches.track(
      shingleRows(bench, idCol, textCol, shingleK, maxDocChars)
        .select(col("doc").as("bench_id"), col("shingle")).persist())
    val nBench = bsh.count()
    val bloom = corpus.sparkSession.sparkContext.broadcast(
      bsh.stat.bloomFilter("shingle", math.max(1L, nBench),
        prefilterFpp))
    val bsz = bsh.groupBy("bench_id").agg(count(lit(1)).as("bench_sz"))
    val hits = corpus.select(col(idCol).as("doc"),
      explode(graft.functions.ShingleHitsExpr(
        TextAnalysis.capDoc(col(textCol), maxDocChars), shingleK, bloom))
        .as("shingle"))
    // count(1), not countDistinct: the expression emits each of a
    // doc's shingles at most once, and (bench_id, shingle) is distinct
    // by construction, so the join fans out uniquely
    hits.join(broadcast(bsh), Seq("shingle"))
      .groupBy(col("doc"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .join(broadcast(bsz), Seq("bench_id"))
      .withColumn("overlap_frac",
        col("n_overlap") / col("bench_sz").cast("double"))
      .filter(col("overlap_frac") >= lit(minOverlap))
      .select(col("doc"), col("bench_id"), col("n_overlap"),
        col("overlap_frac"))
  }

  /** The pre-r13 exploded decontamination plan, kept as the oracle for
    * the fused form's parity spec (and as the shape to fall back to if
    * a caller cannot run plan-construction actions): every corpus
    * shingle becomes a row and probes the broadcast benchmark set.
    * Results are identical to [[contamination]] by construction.
    */
  def contaminationExplode(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleK: Int, minOverlap: Double,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars): DataFrame = {
    val bsh = shingleRows(bench, idCol, textCol, shingleK, maxDocChars)
      .select(col("doc").as("bench_id"), col("shingle"))
    val bsz = bsh.groupBy("bench_id").agg(count(lit(1)).as("bench_sz"))
    val csh = shingleRowsAll(corpus, idCol, textCol, shingleK, maxDocChars)
    csh.join(broadcast(bsh), Seq("shingle"))
      .groupBy(col("doc"), col("bench_id"))
      .agg(countDistinct(col("shingle")).as("n_overlap"))
      .join(broadcast(bsz), Seq("bench_id"))
      .withColumn("overlap_frac",
        col("n_overlap") / col("bench_sz").cast("double"))
      .filter(col("overlap_frac") >= lit(minOverlap))
      .select(col("doc"), col("bench_id"), col("n_overlap"),
        col("overlap_frac"))
  }

  /** 64-bit SimHash over distinct words, emitted as a 16-char hex string
    * (portable across engines; no signed-shift pitfalls).
    *
    * Bit j (j = 0..63, MSB-first over md5's first 16 hex chars) is 1 iff
    * the sum over words of (bit_j(md5(word)) ? +1 : -1) is positive.
    *
    * Computed by the codegen'd [[graft.functions.SimHashExpr]]: one
    * per-row loop, zero shuffles. This replaced a word-explode ×
    * 64-bit-explode plan (64 rows per distinct word through two shuffled
    * aggregations) — hash-identical output, PlanSpec-guarded against the
    * explode creeping back.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      maxDocChars: Int = TextAnalysis.defaultMaxDocChars): DataFrame =
    docs.select(col(idCol).as("doc"),
      graft.functions.SimHashExpr(
        TextAnalysis.capDoc(col(textCol), maxDocChars)).as("simhash"))

  /** One row per fixed-width word segment of each document: (doc,
    * seg_idx, seg). The last segment of a document may be shorter than
    * `segWords`; an empty-string text still yields one (empty) segment,
    * so every non-null doc appears. NULL texts are dropped (matching
    * SQL's unnest-of-NULL semantics — without the filter a null text
    * would emit one (doc, 0, null) segment via greatest(null,1)=1).
    * Pure codegen'd front (one explode, no shuffle).
    */
  def segmentRows(docs: DataFrame, idCol: String, textCol: String,
      segWords: Int): DataFrame = {
    val ws = words(col(textCol))
    val nseg = ceil(size(ws).cast("double") / segWords).cast("int")
    docs.filter(col(textCol).isNotNull).select(col(idCol).as("doc"),
      posexplode(transform(sequence(lit(0), greatest(nseg, lit(1)) - 1),
        i => array_join(slice(ws, i * segWords + 1, lit(segWords)), " "))))
      .withColumnsRenamed(Map("pos" -> "seg_idx", "col" -> "seg"))
      .withColumn("seg_idx", col("seg_idx").cast("long"))
  }

  /** Cross-document duplicated-segment removal (the CCNet/RefinedWeb
    * paragraph-dedup stage, reference-corpus boilerplate killer): split
    * each document into consecutive `segWords`-word segments, find
    * segments that occur in >= `minDocs` DISTINCT documents, and
    * re-assemble each document from only its non-duplicated segments
    * (original order). Output: (doc, n_seg, n_dup_seg, kept_text).
    *
    * Scale shape (100 TB): the duplicate decision shuffles ONLY the
    * 32-char md5 of each segment (map-side partial agg collapses
    * within-partition repeats before the exchange); the rebuild is the
    * one unavoidable shuffle of segment text back to its document — the
    * same volume a plain groupBy(doc) of the corpus would move. The
    * segment lineage is recomputed for the two consumers rather than
    * persisted: two narrow scans beat caching a corpus-sized explode
    * (and stay safe under concurrent AQE stage submission — see
    * SCALING.md on the persist cache race). With a known-small
    * duplicate set, the join could become a broadcast/Bloom in-row
    * lookup (the q65 pattern); the equi-join form here assumes nothing.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10, minDocs: Int = 2): DataFrame = {
    val segRows = segmentRows(docs, idCol, textCol, segWords)
    val dupHashes = segRows
      .groupBy(md5(col("seg")).as("seg_h"))
      .agg(countDistinct(col("doc")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    segRows.withColumn("seg_h", md5(col("seg")))
      .join(dupHashes, Seq("seg_h"), "left_outer")
      .groupBy(col("doc"))
      .agg(
        count(lit(1)).as("n_seg"),
        count(col("n_docs")).as("n_dup_seg"),
        coalesce(array_join(transform(
          array_sort(collect_list(when(col("n_docs").isNull,
            struct(col("seg_idx"), col("seg"))))),
          s => s("seg")), " "), lit("")).as("kept_text"))
  }

  /** Exact duplicate-SUBSTRING removal (ExactSubstr — Lee et al. 2022,
    * arXiv:2107.06499): every `gramLen`-codepoint window whose text
    * also occurs at a lexicographically EARLIER (doc, pos) is removed;
    * overlapping or touching removals merge into spans and the
    * remaining segments stitch back together. Unlike [[segmentDedup]]
    * (fixed word segments) this catches duplicated runs at ANY
    * alignment — the character-level analog of the reference's
    * suffix-array dedup, re-expressed as hash-bucket + verify.
    *
    * Output: (id, clean_text, n_spans, removed_chars) for every doc.
    *
    * Plan shape, corpus-size honest: the rolling window hashes are ONE
    * codegen'd per-row loop ([[graft.functions.GramHashesExpr]]); the
    * one corpus-sized shuffle is the duplicated-hash AGGREGATION
    * (16 B/window key+count through a hash agg — the distributed
    * stand-in for suffix-array construction, which is also O(corpus)
    * bytes; a window-over-hash formulation instead SORTS every window
    * row and was measured 2-4× slower at the 100× point). The
    * duplicated-hash set then comes back as a broadcast Bloom filter
    * probed IN the second scan — candidate windows never shuffle until
    * they are match-sized. Bloom false positives cannot change
    * results: a false-positive window is alone in its real-substring
    * group downstream (two windows with equal text hash equal, so
    * they are in the true duplicate set), where the min-occurrence
    * rule keeps it. Real substrings are fetched only for candidates
    * and re-verified by VALUE before any removal, per-doc span lists
    * ride one match-sized aggregation, and the stitch is one O(len)
    * pass per doc ([[graft.functions.CutSpansExpr]]). The hash loop
    * runs twice (detection + candidate scan) — at 0.03 µs/window it is
    * ~100× cheaper than shuffling the windows it avoids.
    */
  def exactSubstrDedup(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int, prefilterFpp: Double = 0.01,
      caches: CacheHandle = CacheHandle.session): DataFrame = {
    val d = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol))
    def grams = d.select(col(idCol),
        posexplode(graft.functions.GramHashesExpr(col(textCol), gramLen)))
      .select(col(idCol), (col("pos") + 1).cast("int").as("__p"),
        col("col").as("__h"))
    // pass 1: duplicated hash VALUES (count > 1), key-only. A
    // repartition + sort run-length scan shuffles the same bytes but
    // pays a typed mapPartitions hop (per-row object ser/deser outside
    // whole-stage codegen): measured 155s against this aggregation's
    // 62s quiet at sf10 (SCALING.md round 14)
    val dup = caches.track(grams.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select("__h").persist())
    val nDup = dup.count() // sizes the Bloom; materializes the persist
    val bloom = d.sparkSession.sparkContext.broadcast(
      dup.stat.bloomFilter("__h", math.max(1L, nDup), prefilterFpp))
    // pass 2: re-scan, keep only windows whose hash the Bloom knows —
    // a shuffle-free prefilter; survivors are match-sized
    val cand = grams.filter(
      graft.functions.BloomMightContainLongExpr(col("__h"), bloom))
    // candidates only: fetch the real window and keep every occurrence
    // that is not its window's minimal (doc, pos)
    val withGram = cand.join(d, Seq(idCol))
      .withColumn("__g",
        substring(col(textCol), col("__p"), lit(gramLen)))
    val occ = struct(col(idCol), col("__p"))
    val removals = withGram
      .withColumn("__min",
        min(occ).over(Window.partitionBy(col("__g"))))
      .filter(occ =!= col("__min"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__p"))).as("__starts"))
    val cut = graft.functions.CutSpansExpr(col(textCol),
      coalesce(col("__starts"), array().cast("array<int>")), gramLen)
    d.join(removals, Seq(idCol), "left_outer")
      .withColumn("__cut", cut)
      .select(col(idCol), col("__cut.clean_text").as("clean_text"),
        col("__cut.n_spans").as("n_spans"),
        col("__cut.removed_chars").as("removed_chars"))
  }
}
