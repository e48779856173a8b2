package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-analysis coverage: stopword language ID, quality signals, token
  * counting. The stopword dim VALUES in the oracle is generated from the
  * same Scala list the Spark side broadcasts — single source of truth.
  */
object TextQueries extends QueryPack {

  private val dimValues = TextAnalysis.stopwords
    .map { case (l, w) => s"('$l', '$w')" }.mkString(", ")

  /** Language ID: per-language stopword hit counts in one projection →
    * argmax with deterministic tie-break.
    */
  val q27 = Q("q27_language_id",
    (s, dir) => TextAnalysis.languageId(
      Tables(s, dir, "documents"), "doc_id", "text"),
    Some(s"""
      WITH dim(cand_lang, word) AS (VALUES $dimValues),
      w AS (SELECT doc_id AS doc, unnest(string_split(lower(text), ' ')) AS word
            FROM documents),
      hits AS (SELECT doc, cand_lang, COUNT(*) AS hits
               FROM w JOIN dim USING (word) GROUP BY doc, cand_lang),
      best AS (SELECT doc, cand_lang AS pred_lang FROM
                (SELECT doc, cand_lang, row_number() OVER
                   (PARTITION BY doc ORDER BY hits DESC, cand_lang ASC) AS rn
                 FROM hits)
               WHERE rn = 1)
      SELECT d.doc_id AS doc, COALESCE(b.pred_lang, 'und') AS pred_lang
      FROM documents d LEFT JOIN best b ON d.doc_id = b.doc"""))

  /** Quality signals: lengths, token counts, ratios — exact integer and
    * deterministic double arithmetic only.
    */
  val q28 = Q("q28_quality_signals",
    (s, dir) => TextAnalysis.qualitySignals(
      Tables(s, dir, "documents"), "doc_id", "text"),
    Some("""
      SELECT doc_id AS doc,
        length(text) AS n_chars,
        len(string_split(text, ' ')) AS n_tokens,
        len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_token_len,
        CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
          / length(text) AS punct_ratio,
        CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
          / length(text) AS digit_ratio
      FROM documents"""))

  /** Token/vocabulary stats per source (corpus-level rollup). */
  val q29 = Q("q29_token_stats",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val perDoc = d.select(col("source"), col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        explode(toks).as("word"))
      perDoc.groupBy("source").agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        countDistinct(col("word")).as("vocab"))
    },
    Some("""
      WITH w AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
      SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS total_tokens, COUNT(DISTINCT word) AS vocab
      FROM w GROUP BY source"""))

  /** Winnowing (rolling k-gram hash + window-min) fingerprint sets:
    * distinct (doc, fp) pairs for 8-char grams, window 4.
    */
  val q45 = Q("q45_winnow_fingerprint",
    (s, dir) => TextAnalysis.winnowFingerprints(
      Tables(s, dir, "documents"), "doc_id", "text", k = 8, w = 4),
    Some("""
      WITH cap AS (SELECT doc_id AS doc, substr(text, 1, 1048576) AS t
                   FROM documents),
      pos AS (SELECT doc, t, i + 1 AS p
              FROM (SELECT doc, t, unnest(range(length(t) - 7)) AS i
                    FROM cap WHERE length(t) >= 11) z),
      hs AS (SELECT doc, t, p, (CAST(ord(substr(t, p + 0, 1)) AS BIGINT) * 27512614111) + (CAST(ord(substr(t, p + 1, 1)) AS BIGINT) * 887503681) + (CAST(ord(substr(t, p + 2, 1)) AS BIGINT) * 28629151) + (CAST(ord(substr(t, p + 3, 1)) AS BIGINT) * 923521) + (CAST(ord(substr(t, p + 4, 1)) AS BIGINT) * 29791) + (CAST(ord(substr(t, p + 5, 1)) AS BIGINT) * 961) + (CAST(ord(substr(t, p + 6, 1)) AS BIGINT) * 31) + (CAST(ord(substr(t, p + 7, 1)) AS BIGINT) * 1) AS h
             FROM pos),
      mins AS (SELECT doc, t, p,
                 MIN(h) OVER (PARTITION BY doc ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
               FROM hs)
      SELECT DISTINCT doc, fp FROM mins
      WHERE p <= length(t) - 7 - 3"""))

  /** Gopher-style corpus filter rules over documents, with a dirty-text
    * variant synthesized for rule diversity (hash/ellipsis injection on
    * a deterministic subset).
    */
  val q52 = Q("q52_gopher_rules",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val dirty = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" ### ... ### ... #")))
        .when(col("doc_id") % 7 === 1, lit("tiny doc"))
        .otherwise(col("text"))
      TextAnalysis.gopherRules(
        d.select(col("doc_id"), dirty.as("t")), "doc_id", "t",
        minWords = 20, maxWords = 100000)
    },
    Some("""
      WITH src AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0 THEN text || ' ### ... ### ... #'
               WHEN doc_id % 7 = 1 THEN 'tiny doc'
               ELSE text END AS t
        FROM documents),
      m AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM src),
      v AS (SELECT doc_id,
          len(ws) AS n_words,
          CAST(length(replace(t, ' ', '')) AS DOUBLE) / len(ws) AS mean_word_len,
          CAST((length(t) - length(replace(t, '#', ''))) +
               (length(t) - length(replace(t, '...', ''))) // 3 AS DOUBLE)
            / len(ws) AS symbol_ratio,
          CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
            AS DOUBLE) / len(ws) AS alpha_frac,
          len(list_filter(['the','be','to','of','and','that','have','with'],
            s -> list_contains(ws, s))) AS stop_count
        FROM m)
      SELECT doc_id AS doc, CAST(n_words AS BIGINT) AS n_words,
        mean_word_len, symbol_ratio, alpha_frac,
        CAST(stop_count AS BIGINT) AS stop_count,
        (n_words >= 20 AND n_words <= 100000) AS pass_words,
        (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_len,
        (symbol_ratio <= 0.1) AS pass_symbols,
        (alpha_frac >= 0.8) AS pass_alpha,
        (stop_count >= 2) AS pass_stops,
        ((n_words >= 20 AND n_words <= 100000) AND
         (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AND
         (symbol_ratio <= 0.1) AND (alpha_frac >= 0.8) AND
         (stop_count >= 2)) AS keep
      FROM v"""))

  /** Gopher repetition signal: per-doc most-frequent word bigram and
    * the fraction of characters its occurrences cover, with a
    * repetition-injected subset so the signal actually fires.
    */
  val q53 = Q("q53_repetition",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val dirty = when(col("doc_id") % 5 === 0,
          concat(col("text"), repeat(lit(" spam ham"), 30)))
        .otherwise(col("text"))
      TextAnalysis.topBigramFraction(
        d.select(col("doc_id"), dirty.as("t")), "doc_id", "t")
    },
    Some("""
      WITH src AS (SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || repeat(' spam ham', 30)
               ELSE text END AS t
        FROM documents),
      m AS (SELECT doc_id, t,
              string_split(substr(t, 1, 1048576), ' ') AS ws
            FROM src),
      g AS (SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS bigram
            FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                  FROM m) t),
      c AS (SELECT doc_id, bigram, COUNT(*) AS cnt
            FROM g GROUP BY doc_id, bigram),
      top AS (SELECT doc_id, bigram AS top_bigram, cnt AS top_count
              FROM (SELECT doc_id, bigram, cnt, row_number() OVER
                      (PARTITION BY doc_id
                       ORDER BY cnt DESC, bigram ASC) AS rn
                    FROM c)
              WHERE rn = 1)
      SELECT m.doc_id AS doc, CAST(length(m.t) AS BIGINT) AS n_chars,
             top_bigram, CAST(top_count AS BIGINT) AS top_count,
             CAST(top_count * length(top_bigram) AS DOUBLE) /
               length(m.t) AS top_bigram_char_frac
      FROM m JOIN top ON m.doc_id = top.doc_id"""))

  /** Token counting both ways: whitespace words vs the RE2-compatible
    * BPE-style pre-tokenizer — the corpus cost-estimation signal.
    */
  val q54 = Q("q54_bpe_tokens",
    (s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir, "documents"), "doc_id",
        "text"),
    Some(s"""
      SELECT doc_id AS doc,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text,
          '${TextAnalysis.bpeTokenPattern}'))
          AS BIGINT) AS bpe_tokens,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents"""))

  /** PII redaction + audit counts. The synthetic corpus carries no PII,
    * so the query derives a deterministic PII-bearing column (doc-keyed
    * email / IPv4 / phone appended to the text) IDENTICALLY on both
    * sides, then redacts and counts — the hash check covers the full
    * redacted strings, so the Java and RE2 engines must agree on every
    * match boundary. One codegen'd projection, no shuffle.
    */
  val q67 = Q("q67_pii_redact",
    (s, dir) => {
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com ip 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".1 call +1-555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"))
      TextAnalysis.piiCounts(
        Tables(s, dir, "documents").withColumn("pii_text", pii),
        "doc_id", "pii_text")
    },
    Some(s"""
      WITH p AS (SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
            '.1 call +1-555-01' ||
            lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
        FROM documents)
      SELECT doc_id AS doc,
        regexp_replace(regexp_replace(regexp_replace(t,
          '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
          '${TextAnalysis.Ipv4Re}', '[IP]', 'g'),
          '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS redacted,
        CAST(len(regexp_extract_all(t, '${TextAnalysis.EmailRe}'))
          AS BIGINT) AS n_email,
        CAST(len(regexp_extract_all(t, '${TextAnalysis.Ipv4Re}'))
          AS BIGINT) AS n_ip,
        CAST(len(regexp_extract_all(t, '${TextAnalysis.PhoneRe}'))
          AS BIGINT) AS n_phone
      FROM p"""))

  /** Unicode-normalization markers: decomposed accents, compatibility
    * ligature + full-width digits, angstrom sign, half-width katakana
    * with dakuten, enclosed/squared compat chars, misordered combining
    * marks (canonical reordering), and the classic U+1E9B+U+0323 pair.
    * Each starts with a space so it cannot canonically combine with the
    * (ASCII) document text it is appended to.
    */
  private val normMarkers = Seq(
    " cafe\u0301",                   // decomposed e + combining acute
    " \uFB01le \uFF12\uFF13",         // fi ligature, full-width digits
    " \u212B",                        // angstrom sign
    " \uFF76\uFF9E\uFF77\uFF9E",       // half-width katakana + dakuten
    " \u2460\u3231\u33A1",            // circled 1, parenthesized kabushiki, m^2
    " x\u0302\u0323",                 // misordered combining marks (ccc 230, 220)
    " \u1E9B\u0323")                  // long s with dot above + dot below

  /** The markers' NFKC forms (precomputed against Python unicodedata +
    * DuckDB utf8proc): the NFKC column's oracle -- DuckDB has no NFKC
    * function, so the expected strings are pinned as literals.
    */
  private val normMarkersNfkc = Seq(
    " caf\u00E9",                     // composed e-acute
    " file 23",                      // compatibility-folded
    " \u00C5",                        // composed A-ring
    " \u30AC\u30AE",                   // full-width katakana, dakuten folded
    " 1(\u682A)m2",
    " x\u0323\u0302",                 // canonically reordered
    " \u1E69")                        // s with dot below and dot above

  /** Unicode normalization: the normalize-before-fingerprint step. The
    * synthetic corpus is all-ASCII, so the query appends a doc-keyed
    * marker with known normalization behavior IDENTICALLY on both
    * sides; NFC is checked against DuckDB's `nfc_normalize` (two
    * independent implementations — ICU-derived Java vs utf8proc — must
    * agree byte-for-byte), NFKC against pinned expected literals. One
    * codegen'd projection, no shuffle.
    */
  val q71 = Q("q71_unicode_norm",
    (s, dir) => {
      val marked = concat(col("text"), element_at(
        typedLit(normMarkers),
        (col("doc_id") % normMarkers.size + 1).cast("int")))
      Tables(s, dir, "documents").select(
        col("doc_id").as("doc"),
        TextAnalysis.normalizeUnicode(marked, "NFC").as("nfc"),
        TextAnalysis.normalizeUnicode(marked, "NFKC").as("nfkc"))
    },
    Some {
      val whenNfc = normMarkers.zipWithIndex
        .map { case (m, i) => s"WHEN $i THEN '$m'" }.mkString(" ")
      val whenNfkc = normMarkersNfkc.zipWithIndex
        .map { case (m, i) => s"WHEN $i THEN '$m'" }.mkString(" ")
      s"""
      SELECT doc_id AS doc,
        nfc_normalize(text ||
          (CASE CAST(doc_id % ${normMarkers.size} AS INT) $whenNfc END))
          AS nfc,
        text ||
          (CASE CAST(doc_id % ${normMarkers.size} AS INT) $whenNfkc END)
          AS nfkc
      FROM documents"""
    })

  private[queries] val lmValues = TextAnalysis.pretrainedUnigramFp.toSeq.sorted
    .map { case (w, fp) => s"('$w', ${fp}::BIGINT)" }.mkString(", ")

  /** Unigram-LM quality score (the CCNet perplexity filter): frozen
    * fixed-point log2-prob table (generated into the oracle's VALUES
    * from the SAME Scala map the expression carries — single source of
    * truth), OOV penalty, per-token average, keep/drop threshold. The
    * Spark side is ONE codegen'd per-row loop (zero shuffle); the
    * oracle is the explode + vocab-join formulation it replaces.
    */
  val q78 = Q("q78_unigram_lm",
    (s, dir) => TextAnalysis.unigramLmScore(
      Tables(s, dir, "documents"), "doc_id", "text"),
    Some(s"""
      WITH v(word, fp) AS (VALUES $lmValues),
      t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
      sc AS (SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(coalesce(v.fp, ${TextAnalysis.UnigramOovFp}))
                 AS BIGINT) AS sum_fp
             FROM t LEFT JOIN v USING (word)
             GROUP BY doc_id)
      SELECT doc_id AS doc, n_tokens, sum_fp,
        (CAST(sum_fp AS DOUBLE) / 1024.0) / n_tokens AS avg_bits,
        (CAST(sum_fp AS DOUBLE) / 1024.0) / n_tokens >= -3.0 AS keep
      FROM sc"""))

  /** BM25 keyword retrieval (Retrieval.bm25TopKOverDocs): the
    * inverted-index top-k — tf/df/dl/N exact longs, avgdl an exact
    * long ratio, per-posting contributions mirrored bit-for-bit in the
    * oracle, per-doc scores summed as DECIMAL (order-independent) so
    * tie-breaks agree. Three bag-of-words queries over the corpus
    * vocabulary; rank-only output.
    */
  private val bm25Queries = Seq(
    0 -> Seq("spark", "join", "merge"),
    1 -> Seq("window", "filter", "sort", "customer"),
    2 -> Seq("vector", "hash", "batch", "slow"))

  private val bm25QueryValues = bm25Queries
    .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
    .mkString(", ")

  /** Shared oracle CTE chain for the BM25 queries (q82/q84): corpus
    * statistics + query-term postings. The engine computes the same
    * values via the one-pass query-compiled scan
    * (QueryTermCountsExpr); tf/df/N/dl are exact longs either way, so
    * the formulations agree bit-for-bit.
    */
  private val bm25BaseCtes = s"""qt(query_id, term) AS
        (VALUES $bm25QueryValues),
      toks AS (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+'))
                   AS term
               FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term <> '' GROUP BY doc_id, term),
      dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
      stats AS (SELECT COUNT(*) AS n,
                  CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                    AS avgdl
                FROM dl),
      qpost AS (SELECT t.* FROM tf t
                WHERE t.term IN (SELECT DISTINCT term FROM qt)),
      dfq AS (SELECT term, COUNT(*) AS df FROM qpost GROUP BY term)"""

  /** One per-(query, doc) DECIMAL-summed BM25 score CTE for the given
    * k1/b literals — mirrored term-for-term against the Spark contrib
    * expression.
    */
  private def bm25ScoredCte(name: String, k1: String, b: String) = s"""
      $name AS (
        SELECT q.query_id, p.doc_id,
          SUM(CAST(
            ln(CAST(1.0 AS DOUBLE) +
               (s.n - d.df + CAST(0.5 AS DOUBLE)) /
               (d.df + CAST(0.5 AS DOUBLE))) *
            (p.tf * (CAST($k1 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
            (p.tf + CAST($k1 AS DOUBLE) *
              (CAST(1.0 AS DOUBLE) - CAST($b AS DOUBLE) +
               CAST($b AS DOUBLE) * l.dl / s.avgdl))
            AS DECIMAL(28,12))) AS score
        FROM qt q
        JOIN qpost p ON p.term = q.term
        JOIN dfq d ON d.term = q.term
        JOIN dl l ON l.doc_id = p.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, p.doc_id)"""

  private def bm25QueryFrame(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    bm25Queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
  }

  val q82 = Q("q82_bm25_topk",
    (s, dir) => graft.operators.Retrieval.bm25TopKOverDocs(
        Tables(s, dir, "documents"), "doc_id", "text",
        bm25QueryFrame(s), k = 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id")),
    Some(s"""
      WITH $bm25BaseCtes, ${bm25ScoredCte("scored", "1.2", "0.75")}
      SELECT CAST(query_id AS INTEGER) AS query_id,
             CAST(rn AS BIGINT) AS rank, doc_id
      FROM (SELECT query_id, doc_id, row_number() OVER
              (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored)
      WHERE rn <= 10"""))

  /** Reciprocal-rank fusion (q84): ensemble two BM25 parameterizations
    * — standard (k1=1.2, b=0.75) and low-length-normalization
    * (k1=2.0, b=0.25) — by 1/(60+rank) over each run's top-20, the
    * score-free way to combine retrieval runs. Contributions sum as
    * DECIMAL in both engines; rank-only output.
    */
  val q84 = Q("q84_rrf_fusion",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val qt = bm25QueryFrame(s)
      val std = graft.operators.Retrieval.bm25TopKOverDocs(
        docs, "doc_id", "text", qt, k = 20)
      val lowNorm = graft.operators.Retrieval.bm25TopKOverDocs(
        docs, "doc_id", "text", qt, k = 20, k1 = 2.0, b = 0.25)
      graft.operators.Retrieval.rrfFuse(Seq(std, lowNorm), k = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("doc_id"))
    },
    Some(s"""
      WITH $bm25BaseCtes, ${bm25ScoredCte("scored_a", "1.2", "0.75")},
      ${bm25ScoredCte("scored_b", "2.0", "0.25")},
      ra AS (SELECT query_id, doc_id, rn FROM
              (SELECT query_id, doc_id, row_number() OVER
                 (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
                 AS rn FROM scored_a) WHERE rn <= 20),
      rb AS (SELECT query_id, doc_id, rn FROM
              (SELECT query_id, doc_id, row_number() OVER
                 (PARTITION BY query_id ORDER BY score DESC, doc_id ASC)
                 AS rn FROM scored_b) WHERE rn <= 20),
      u AS (SELECT * FROM ra UNION ALL SELECT * FROM rb),
      fused AS (SELECT query_id, doc_id,
                  SUM(CAST(CAST(1.0 AS DOUBLE) / (60 + rn)
                      AS DECIMAL(28,12))) AS score
                FROM u GROUP BY query_id, doc_id)
      SELECT CAST(query_id AS INTEGER) AS query_id,
             CAST(rn AS BIGINT) AS rank, doc_id
      FROM (SELECT query_id, doc_id, row_number() OVER
              (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
            FROM fused)
      WHERE rn <= 10"""))

  private val dsirValues = TextAnalysis.pretrainedUnigramFp.toSeq.sorted
    .map { case (w, f) =>
      s"('$w', ${TextAnalysis.targetUnigramFp(w) - f}::BIGINT)" }
    .mkString(", ")

  /** DSIR data selection ([[TextAnalysis.dsirSelect]]): per-token
    * average log2 p_target − log2 p_raw under the two frozen hashed-
    * unigram LMs, keep when the ratio is non-negative. The engine runs
    * ONE codegen'd loop over the per-word difference table; the oracle
    * is the explode + diff-vocab-join formulation it replaces, with the
    * diff VALUES generated from the same two Scala maps (single source
    * of truth, like q78).
    */
  val q86 = Q("q86_dsir_select",
    (s, dir) => TextAnalysis.dsirSelect(
      Tables(s, dir, "documents"), "doc_id", "text"),
    Some(s"""
      WITH v(word, fp) AS (VALUES $dsirValues),
      t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
      sc AS (SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(coalesce(v.fp,
                 ${TextAnalysis.TargetOovFp - TextAnalysis.UnigramOovFp}))
                 AS BIGINT) AS sum_ratio_fp
             FROM t LEFT JOIN v USING (word)
             GROUP BY doc_id)
      SELECT doc_id AS doc, n_tokens, sum_ratio_fp,
        (CAST(sum_ratio_fp AS DOUBLE) / 1024.0) / n_tokens
          AS avg_ratio_bits,
        (CAST(sum_ratio_fp AS DOUBLE) / 1024.0) / n_tokens >= 0.0 AS keep
      FROM sc"""))

  /** CCNet perplexity buckets ([[TextAnalysis.perplexityBuckets]]):
    * per-language head/middle/tail thirds of the unigram-LM score
    * distribution, cut at exact percentile_disc(1/3, 2/3). The oracle
    * reuses q78's scoring CTEs and percentile_disc (the q10 parity
    * precedent); avg_bits is an exact-integer ratio, so cutoff
    * comparisons agree bit-for-bit across engines.
    */
  val q87 = Q("q87_perplexity_buckets",
    (s, dir) => TextAnalysis.perplexityBuckets(
      Tables(s, dir, "documents"), "doc_id", "text", "lang"),
    Some(s"""
      WITH v(word, fp) AS (VALUES $lmValues),
      t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
            FROM documents),
      sc AS (SELECT doc_id, lang, count(*) AS n_tokens,
               CAST(sum(coalesce(v.fp, ${TextAnalysis.UnigramOovFp}))
                 AS BIGINT) AS sum_fp
             FROM t LEFT JOIN v USING (word)
             GROUP BY doc_id, lang),
      a AS (SELECT doc_id, lang,
              (CAST(sum_fp AS DOUBLE) / 1024.0) / n_tokens AS avg_bits
            FROM sc),
      c AS (SELECT lang,
              percentile_disc(CAST(1 AS DOUBLE) / 3)
                WITHIN GROUP (ORDER BY avg_bits) AS p33,
              percentile_disc(CAST(2 AS DOUBLE) / 3)
                WITHIN GROUP (ORDER BY avg_bits) AS p67
            FROM a GROUP BY lang)
      SELECT a.doc_id AS doc, a.lang, a.avg_bits,
        CASE WHEN a.avg_bits >= c.p67 THEN 'head'
             WHEN a.avg_bits >= c.p33 THEN 'middle'
             ELSE 'tail' END AS bucket,
        a.avg_bits >= c.p33 AS keep
      FROM a JOIN c USING (lang)"""))

  /** Per-doc keyword extraction ([[TextAnalysis.keyTerms]]): top-3
    * terms by the exactly-comparable rarity score tf/df, ties to the
    * smallest term. Rank-only output; the oracle recomputes tf, df and
    * the identical IEEE divide.
    */
  val q94 = Q("q94_key_terms",
    (s, dir) => TextAnalysis.keyTerms(
      Tables(s, dir, "documents"), "doc_id", "text", topK = 3),
    Some("""
      WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents WHERE text IS NOT NULL),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t
             GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      r AS (SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id
              ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rn
            FROM tf JOIN df USING (term))
      SELECT doc_id AS doc, CAST(rn AS BIGINT) AS rank, term
      FROM r WHERE rn <= 3"""))

  override def all: Seq[Q] = Seq(q27, q28, q29, q45, q52, q53, q54, q67,
    q71, q78, q82, q84, q86, q87, q94)
}
