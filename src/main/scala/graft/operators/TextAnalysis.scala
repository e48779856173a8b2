package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (whole-stage codegen, no UDFs).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately small + deterministic; real pipelines swap
    * in fastText — the *plumbing* (per-language hit counts + argmax) is
    * the operator.
    */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "a", "en" -> "is",
    "en" -> "to", "en" -> "in", "en" -> "that", "en" -> "it", "en" -> "for",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ist",
    "de" -> "nicht", "de" -> "ein", "de" -> "mit", "de" -> "für", "de" -> "auf",
    "fr" -> "le", "fr" -> "la", "fr" -> "les", "fr" -> "et", "fr" -> "est",
    "fr" -> "un", "fr" -> "une", "fr" -> "pour", "fr" -> "dans", "fr" -> "que",
    "es" -> "el", "es" -> "los", "es" -> "y", "es" -> "es", "es" -> "un",
    "es" -> "una", "es" -> "para", "es" -> "en", "es" -> "con", "es" -> "del",
    "it" -> "il", "it" -> "gli", "it" -> "e", "it" -> "è", "it" -> "un",
    "it" -> "una", "it" -> "per", "it" -> "con", "it" -> "di", "it" -> "che")

  /** Predict a language per document row: count each language's
    * stopword hits among the lower-cased text's space-separated words,
    * argmax with deterministic tie-break (more hits, then
    * lexicographically smallest language; rows with zero stopword hits,
    * and null text, get 'und').
    *
    * One codegen'd projection, no explode, join or shuffle: per
    * language, ONE `regexp_count` over `" " + lower(text) + " "` counts
    * the words equal to one of its stopwords — each match anchors at the
    * space before a word and must be followed by a space, so a word
    * matches only whole (punctuation or a tab attached makes it another
    * word, as splitting on " " does) and is counted once. The argmax is
    * `least` over `(-hits, lang)` structs of the languages that hit.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val perLang = stopwords.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (lang, words) =>
        val alternation = words.map(w => Pattern.quote(w._2)).mkString("|")
        val hits = regexp_count(padded, lit(s" (?:$alternation)(?= )"))
        when(hits > 0, struct((-hits).as("nh"), lit(lang).as("lang")))
    }
    docs.select(col(idCol).as("doc"),
      coalesce(least(perLang: _*).getField("lang"), lit("und"))
        .as("pred_lang"))
  }

  /** Heuristic quality signals per document — all exact integer /
    * deterministic-double arithmetic:
    * n_chars, n_tokens, n_distinct_tokens, avg_token_len,
    * punct_ratio (punctuation chars / chars), digit_ratio.
    */
  /** Gopher-style repetition/quality rules (the published heuristics of
    * Rae et al. 2021 §A1.1, the standard LLM-corpus filter set): word
    * count bounds, mean word length bounds, symbol-to-word ratio
    * (hashes + ellipses), alphabetic-word fraction, and stop-word
    * containment — each as a measured value plus its pass flag and an
    * overall keep decision. All integer-derived ratios, so results are
    * engine-exact.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = Dedupe.words(t)
    val n = size(toks)
    val meanLen = (length(regexp_replace(t, " ", "")).cast("double") / n)
    val hashes = length(t) - length(regexp_replace(t, "#", ""))
    val ellipses = (length(t) -
      length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (hashes + ellipses).cast("double") / n
    // words-with-a-letter counted by ONE regexp_count over the raw
    // text, not filter(toks, _.rlike(...)): higher-order-function
    // lambdas are interpreted per element, which drops the whole
    // projection out of whole-stage codegen. Each match anchors at the
    // space before a word (hence the prepended " ") and consumes
    // through a letter — the rest of the word holds no space, so no
    // word is counted twice; empty tokens from repeated spaces match
    // nothing, exactly like the rlike filter over split(text, " ").
    val alphaFrac = regexp_count(concat(lit(" "), t),
      lit(" [^ ]*[A-Za-z]")).cast("double") / n
    val stops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    // one codegen'd array_contains per stop word, summed — the
    // filter-over-literal-array form re-enters the interpreter per
    // element for the same 8 probes
    val stopCount = stops.map(s => array_contains(toks, s).cast("int"))
      .reduce(_ + _)
    val passWords = n >= minWords && n <= maxWords
    val passMeanLen = meanLen >= 3.0 && meanLen <= 10.0
    val passSymbols = symbolRatio <= 0.1
    val passAlpha = alphaFrac >= 0.8
    val passStops = stopCount >= 2
    docs.select(
      col(idCol).as("doc"),
      n.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_frac"),
      stopCount.cast("long").as("stop_count"),
      passWords.as("pass_words"), passMeanLen.as("pass_mean_len"),
      passSymbols.as("pass_symbols"), passAlpha.as("pass_alpha"),
      passStops.as("pass_stops"),
      (passWords && passMeanLen && passSymbols && passAlpha &&
        passStops).as("keep"))
  }

  /** BPE-style pre-tokenizer regex (the GPT-2 pattern family reduced to
    * the RE2-compatible subset — no lookahead, so the same pattern runs
    * in every engine): a token is an optionally-space-prefixed letter
    * run, digit run, or punctuation run, or a single whitespace char.
    */
  val bpeTokenPattern: String =
    " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r]+| "

  /** Token counting both ways (whitespace words vs BPE-ish subword
    * pre-tokens) — the cost-estimation signal an LLM-corpus pipeline
    * budgets with. Pure codegen'd projection.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(
      col(idCol).as("doc"),
      size(Dedupe.words(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(bpeTokenPattern), lit(0)))
        .cast("long").as("bpe_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Gopher repetition signal: the fraction of characters covered by
    * occurrences of the doc's most frequent word 2-gram (ties broken
    * lexicographically). One explode + two aggregations, both with
    * map-side partials — no window over the exploded rows.
    */
  def topBigramFraction(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val grams = Dedupe.shingleRowsAll(docs, idCol, textCol, 2)
    val counts = grams.groupBy("doc", "shingle")
      .agg(count(lit(1)).as("cnt"))
    val top = counts.groupBy("doc").agg(
      min_by(struct(col("shingle"), col("cnt")),
        struct((-col("cnt")).as("nc"), col("shingle"))).as("top"))
      .select(col("doc"), col("top.shingle").as("top_bigram"),
        col("top.cnt").as("top_count"))
    docs.select(col(idCol).as("doc"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(top, Seq("doc"), "left")
      .select(col("doc"), col("n_chars"),
        coalesce(col("top_bigram"), lit("")).as("top_bigram"),
        coalesce(col("top_count"), lit(0L)).cast("long").as("top_count"),
        (coalesce(col("top_count") * length(col("top_bigram")), lit(0L))
          .cast("double") / col("n_chars")).as("top_bigram_char_frac"))
  }

  def qualitySignals(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val toks = Dedupe.words(t)
    val nChars = length(t)
    val nToks = size(toks)
    val stripped = (pat: String) => nChars - length(regexp_replace(t, pat, ""))
    docs.select(
      col(idCol).as("doc"),
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct_tokens"),
      (length(regexp_replace(t, " ", "")).cast("double") / nToks)
        .as("avg_token_len"),
      (stripped("[.,!?;:]").cast("double") / nChars).as("punct_ratio"),
      (stripped("[0-9]").cast("double") / nChars).as("digit_ratio"))
  }

  /** Canonical content fingerprint: md5 of whitespace-collapsed,
    * lowercased text (the "document fingerprinting" primitive used for
    * exact dedup across formatting variants).
    */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Unicode normalization (form = NFC|NFD|NFKC|NFKD) via the codegen'd
    * [[graft.functions.UnicodeNormalizeExpr]] — compose BEFORE
    * [[fingerprint]] / the dedup family so composed-vs-decomposed and
    * compatibility variants ("café" typed two ways, full-width digits,
    * ligatures) collapse to one fingerprint. One narrow projection with
    * a quick-check fast path for already-normalized text; no shuffle.
    */
  def normalizeUnicode(text: Column, form: String): Column =
    graft.functions.UnicodeNormalizeExpr(text,
      graft.functions.UnicodeNormalizeExpr.formOf(form))

  /** Default per-document size cap for the character/shingle-explode
    * operators (winnow, shingling, simhash): 1M code points. At corpus
    * scale a single pathological document (a 1 GB crawl artifact)
    * otherwise dominates whatever task it lands in; real corpus
    * pipelines truncate or segment long documents at ingest. Truncation
    * is a no-op for any document under the cap, so oracle queries on
    * normal-length corpora are unaffected.
    */
  val defaultMaxDocChars: Int = 1 << 20

  /** The shared giant-document guard: truncate `text` to `maxChars`
    * code points. Compose before any per-character or per-shingle
    * operator so no single document can pin a task.
    */
  def capDoc(text: Column, maxChars: Int = defaultMaxDocChars): Column =
    substring(text, 1, maxChars)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * character k-gram, slide a window of `w` consecutive hashes, keep
    * each window's minimum — the classic plagiarism/near-dup
    * fingerprint set that is robust to insertions. Output: distinct
    * (doc, fp) rows (ids are assumed unique — `doc_id` is the PK).
    *
    * The whole computation happens INSIDE each row via the codegen'd
    * [[graft.functions.WinnowFingerprintsExpr]] (rolling polynomial
    * hash + monotonic-deque window min, O(len) per doc, O(w) state):
    * no explode, no window, ZERO shuffles — the scan partitioning is
    * the parallelism. The previous formulation (per-char posexplode +
    * per-doc window with k lead columns) shuffled ~30-50× the corpus
    * bytes and necessarily serialized each document into one task;
    * measured 10.2s → ~0.3s at sf0.1 for q45. Documents are capped at
    * `maxDocChars` ([[capDoc]]) so a pathological giant row stays
    * O(maxDocChars) even before fingerprinting.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDocChars: Int = defaultMaxDocChars): DataFrame = {
    val fps = graft.functions.WinnowFingerprintsExpr(
      capDoc(col(textCol), maxDocChars), k, w)
    docs.select(col(idCol).as("doc"), explode(fps).as("fp"))
  }

  /** The pre-rewrite window formulation of [[winnowFingerprints]], kept
    * ONLY as a differential-testing oracle for the expression (specs
    * assert set equality on real corpora). Do not use at scale: the
    * per-character explode + per-doc sort is the exact plan the rewrite
    * removed.
    */
  /** PII redaction patterns — deliberately simple, and written in the
    * regex subset Java and RE2 agree on (char classes, bounded
    * repetition, no lookaround) so an external engine audits the same
    * redactions. Emails first (their domains would otherwise feed the
    * IP pattern), then IPv4, then +prefixed phone numbers.
    */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  final val PhoneRe = "\\+[0-9][0-9\\-]{6,}[0-9]"

  /** Text with emails/IPv4s/phones replaced by typed tokens — one
    * codegen'd projection, no shuffle; the training-data scrubbing
    * pass that runs inline with cleaning at corpus scale.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  /** Per-category match counts on the ORIGINAL text (audit metric —
    * counts are independent per category, so a string that is both an
    * IP and part of a phone run counts in both).
    */
  def piiCounts(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol).as("doc"),
      redactPii(col(textCol)).as("redacted"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col(textCol), lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phone"))

  /** Frozen "pretrained" unigram LM table: word → -log2 p scaled by
    * 1024 (fixed-point bits). Weights are md5-derived — deterministic
    * stand-ins for a trained table, playing the role of CCNet's
    * downloaded KenLM: the MODEL IS A CONSTANT SHIPPED WITH THE JOB,
    * never learned from the corpus being scored. Every value is an
    * integer multiple of 1/1024 bit, so per-document sums are exact
    * integers — identical at any reduction order or partitioning.
    */
  val pretrainedUnigramFp: Map[String, Long] =
    Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
      .map(w => w -> md5Fp(w)).toMap

  /** The frozen tables' weight of `key`: -(1024 + n), n the first three
    * hex digits of md5(key) — between -1 and -5 bits in fixed point.
    */
  private def md5Fp(key: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
      .take(2).map(b => f"${b & 0xff}%02x").mkString
    -(1024L + java.lang.Long.parseLong(hex.take(3), 16))
  }

  /** Out-of-vocabulary penalty: -16 bits in the same fixed point. */
  final val UnigramOovFp: Long = -16L * 1024L

  /** TARGET-domain unigram LM for DSIR: same frozen-constant discipline
    * as [[pretrainedUnigramFp]] (an LM is a constant shipped with the
    * job), same vocabulary, probabilities derived from a domain-salted
    * hash (`"t:" + word`) — the stand-in for an LM fit on the target
    * distribution (e.g. Wikipedia) rather than the raw crawl.
    */
  val targetUnigramFp: Map[String, Long] =
    pretrainedUnigramFp.keySet.toSeq.sorted.map(w => w -> md5Fp("t:" + w))
      .toMap

  /** Target-LM OOV: one bit harsher than the raw LM's, so unknown
    * words push AGAINST selection.
    */
  final val TargetOovFp: Long = -17L * 1024L

  /** DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    * importance weight = log2 p_target(doc) − log2 p_raw(doc) under two
    * hashed-unigram LMs, averaged per token; keep documents whose
    * average log-ratio clears `keepBits`.
    *
    * Both LMs share the vocabulary and both OOV constants are fixed, so
    * the two-pass difference of sums equals ONE pass over the per-word
    * DIFFERENCE table — the engine scores each document with a single
    * codegen'd [[graft.functions.UnigramScoreExpr]] loop over the diff
    * vocabulary (zero shuffle, pure projection; the selection threshold
    * makes the operator embarrassingly parallel at any corpus size,
    * unlike a global top-fraction sort). Sums are exact fixed-point
    * integers, so keep/drop decisions are engine-independent.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      targetFp: Map[String, Long] = targetUnigramFp,
      rawFp: Map[String, Long] = pretrainedUnigramFp,
      targetOov: Long = TargetOovFp, rawOov: Long = UnigramOovFp,
      keepBits: Double = 0.0): DataFrame = {
    require(targetFp.keySet == rawFp.keySet,
      "DSIR LMs must share a vocabulary for the one-pass diff form")
    val diff = rawFp.map { case (w, f) => w -> (targetFp(w) - f) }
    unigramLmScore(docs, idCol, textCol, diff, targetOov - rawOov,
        keepBits)
      .withColumnRenamed("sum_fp", "sum_ratio_fp")
      .withColumnRenamed("avg_bits", "avg_ratio_bits")
  }

  /** Per-document unigram-LM quality score (the CCNet perplexity
    * filter): total fixed-point log2-likelihood via the codegen'd
    * [[graft.functions.UnigramScoreExpr]] (one per-row loop, vocabulary
    * as an in-expression broadcast, zero shuffle), averaged per token.
    * The average divides an EXACT integer sum, so the double is
    * deterministic and the keep/drop decision engine-independent.
    */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String,
      vocabFp: Map[String, Long] = pretrainedUnigramFp,
      oovFp: Long = UnigramOovFp, keepBits: Double = -3.0,
      carry: Seq[String] = Nil): DataFrame = {
    // null texts are dropped (SQL unnest-of-NULL semantics: a null doc
    // has no tokens, not a null score row)
    docs.filter(col(textCol).isNotNull).select(col(idCol).as("doc") +:
        carry.map(col) :+
        size(Dedupe.words(col(textCol))).cast("long").as("n_tokens") :+
        graft.functions.UnigramScoreExpr(col(textCol), vocabFp, oovFp)
          .as("sum_fp"): _*)
      .withColumn("avg_bits",
        (col("sum_fp").cast("double") / lit(1024.0)) / col("n_tokens"))
      .withColumn("keep", col("avg_bits") >= lit(keepBits))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): score every document with the frozen unigram
    * LM, cut each language's score distribution at its exact 1/3 and
    * 2/3 percentile_disc, and bucket documents into head / middle /
    * tail (head = most probable third; `keep` = not tail — CCNet
    * trains on head+middle).
    *
    * Scale shape: scoring is the zero-shuffle [[unigramLmScore]]
    * projection; both cutoffs come from ONE
    * [[Popularity.percentileDiscMulti]] pass; the |langs|-row cutoff
    * table joins back broadcast, so the corpus is never shuffled. The
    * scored frame is persisted because one action consumes it via two
    * arms (cutoff aggregate + final join).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String,
      caches: graft.core.CacheHandle = graft.core.CacheHandle.session)
      : DataFrame = {
    val scored = caches.track(
      unigramLmScore(docs, idCol, textCol, carry = Seq(langCol))
        .select(col("doc"), col(langCol).as("lang"), col("avg_bits"))
        .persist())
    graft.core.CacheHandle.eager(scored)
    val cuts = Popularity.percentileDiscMulti(scored, Seq("lang"),
        "avg_bits", Seq(1.0 / 3, 2.0 / 3))
      .withColumnRenamed("pct0", "p33").withColumnRenamed("pct1", "p67")
    scored.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("avg_bits") >= col("p67"), lit("head"))
          .when(col("avg_bits") >= col("p33"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc"), col("lang"), col("avg_bits"), col("bucket"),
        (col("bucket") =!= lit("tail")).as("keep"))
  }

  /** Per-document keyword extraction: the `topK` terms of each doc by
    * the rarity-weighted score tf/df (term count in the doc over the
    * term's document frequency). tf/df is monotone in idf for a fixed
    * tf and — unlike tf·log(N/df) — compares EXACTLY across engines
    * (one IEEE divide of two integers on both sides), so rank ties
    * cannot flip on log rounding; the full BM25 weighting lives in
    * [[Retrieval]] where scores are decimal-summed. Ties break to the
    * lexicographically smallest term.
    *
    * Plan shape: token explode + (doc, term) count — the honest
    * corpus-sized pass any global-df statistic needs; the df table is
    * vocabulary-sized (≪ corpus rows; AQE broadcasts it when small,
    * shuffle-joins otherwise), and the final per-doc top-k window runs
    * over the already-aggregated (doc, term) frame, not raw tokens.
    */
  def keyTerms(docs: DataFrame, idCol: String, textCol: String,
      topK: Int = 3): DataFrame = {
    val tf = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(Dedupe.words(col(textCol))).as("term"))
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc")
      .orderBy((col("tf").cast("double") / col("df")).desc,
        col("term").asc)
    tf.join(df, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("doc", "rank", "term")
  }

  private[graft] def winnowFingerprintsWindowed(docs: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int): DataFrame = {
    val byPos = Window.partitionBy("doc").orderBy("p")
    val h = (0 until k).map { j =>
      val factor = lit(math.pow(31, k - 1 - j).toLong)
      (if (j == 0) col("code") else lead(col("code"), j).over(byPos)) * factor
    }.reduce(_ + _)
    val chars = docs
      .select(col(idCol).as("doc"), col(textCol).as("t"))
      .filter(length(col("t")) >= k + w - 1)
      .select(col("doc"), length(col("t")).as("len"),
        posexplode(split(col("t"), "")).as(Seq("p0", "ch")))
      .select(col("doc"), col("len"), (col("p0") + 1).as("p"),
        ascii(col("ch")).cast("long").as("code"))
    val frame = byPos.rowsBetween(Window.currentRow, w - 1)
    chars
      .withColumn("h", h)
      .withColumn("fp", min("h").over(frame))
      // only positions whose k-gram AND full winnow window fit
      .filter(col("p") <= col("len") - (k - 1) - (w - 1))
      .select(col("doc"), col("fp")).distinct()
  }
}
