package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.operators.{Pq, Similarity}
import org.apache.spark.sql.functions._

/** Similarity-search coverage over the `embeddings` table
  * (`array<float>` column): brute-force cosine top-k (baseline) and
  * label-bucketed stats. Outputs are integer-only (ids + ranks) so they
  * are robust to last-bit floating-point differences between engines —
  * rank flips would need two cosines within ~1e-12, which the continuous
  * random embeddings never produce.
  */
object SimilarityQueries extends QueryPack {

  /** Brute-force cosine top-10 for the first 10 query vectors:
    * broadcast(queries) × corpus scan — the corpus is never shuffled.
    */
  val q30 = Q("q30_ann_bruteforce",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 10)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some("""
      WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      scored AS (SELECT q.vec_id, c.vec_id AS neighbor_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[])) AS cos
        FROM q CROSS JOIN embeddings c
        WHERE c.vec_id <> q.vec_id)
      SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id
      FROM (SELECT vec_id, neighbor_id, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
            FROM scored)
      WHERE rn <= 10"""))

  /** Per-label embedding stats: counts plus min/max L2 norm (min/max are
    * order-independent so exact across engines; the norm itself is a
    * deterministic left-to-right fold in index order on both sides).
    */
  val q31 = Q("q31_embedding_stats",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val norm = sqrt(Similarity.dotNative(col("embedding"),
        col("embedding")))
      emb.select(col("label"), norm.as("norm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          min("norm").as("min_norm"), max("norm").as("max_norm"))
    },
    Some("""
      WITH n AS (SELECT label,
          sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS norm
        FROM embeddings)
      SELECT label, COUNT(*) AS n, MIN(norm) AS min_norm,
             MAX(norm) AS max_norm
      FROM n GROUP BY label"""))

  /** Embedding-cosine near-duplicate pairs, blocked by label (the IVF
    * cell analog: only same-cell pairs are scored — the blocking join is
    * what survives 100 TB, never an unblocked |corpus|² product). Norms
    * precomputed per vector, pair score = dot/(norm_a*norm_b).
    * Integer-only output.
    */
  val q44 = Q("q44_embedding_neardup",
    (s, dir) => {
      // salted block self-join: maxBlock=256 splits each ~1000-vector
      // label block into 4 salt buckets, so the hot-block quadratic is
      // spread across tasks — results are exactly the plain blocked
      // join's (salting only re-routes which task scores each pair)
      Similarity.nearDupPairsSalted(Tables(s, dir, "embeddings"),
        "label", "vec_id", "embedding", threshold = 0.35, maxBlock = 256)
    },
    Some(s"""
      SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ${cosineAtLeast("a", "b")}"""))

  /** The pair verify of the near-dup oracles (q44, q62/q110,
    * q85/q102): cosine of `a` and `b`'s embeddings as dot / (norm·norm),
    * at least 0.35.
    */
  private def cosineAtLeast(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_dot_product(CAST($x.embedding AS DOUBLE[]),
                             CAST($y.embedding AS DOUBLE[]))"""
    s"""${dot(a, b)} /
            (sqrt(${dot(a, a)}) *
             sqrt(${dot(b, b)}))
            >= CAST(0.35 AS DOUBLE)"""
  }

  /** (`id`, cell_id) rows: each `embeddings` row (alias `v`, filtered by
    * `where`) with its `n` most cosine-similar cells of the centroid
    * table `cents`, ties to the lower cell_id — the oracle of
    * [[Similarity.nearestCellCol]] (n = 1) and [[Similarity.probeCells]].
    */
  private def nearestCells(cents: String, n: Int, v: String = "e",
      id: String = "vec_id", where: String = ""): String = {
    val vid = if (id == "vec_id") s"$v.vec_id" else s"$v.vec_id AS $id"
    val cut = if (n == 1) "= 1" else s"<= $n"
    s"""SELECT $id, cell_id FROM (
          SELECT $vid, c.cell_id, row_number() OVER (PARTITION BY $v.vec_id
            ORDER BY list_cosine_similarity(CAST($v.embedding AS DOUBLE[]),
                                            c.centroid) DESC,
                     c.cell_id ASC) AS rn
          FROM embeddings $v CROSS JOIN $cents c$where) WHERE rn $cut"""
  }

  /** The top-`k` tail of the rank oracles: `from`'s rows ranked per
    * vec_id by `score` descending, ties to the lower neighbor id.
    */
  private def rankOracle(score: String, from: String, k: Int): String =
    s"""SELECT vec_id, CAST(rn AS BIGINT) AS rank, neighbor_id FROM (
        SELECT vec_id, neighbor_id, row_number() OVER (PARTITION BY vec_id
          ORDER BY $score DESC, neighbor_id ASC) AS rn FROM $from)
      WHERE rn <= $k"""

  /** The IVF probe CTEs: `corpus_cells` (each corpus vector's cell
    * among `cents`) and `probed` (each of the 10 queries' `nprobe`
    * nearest cells).
    */
  private def probeCtes(cents: String, nprobe: Int): String =
    s"""corpus_cells AS (
        ${nearestCells(cents, 1, id = "neighbor_id")}),
      probed AS (
        ${nearestCells(cents, nprobe, v = "q",
          where = " WHERE q.vec_id < 10")})"""

  /** q46/q72's search after the centroids `cents`: top-5 exact-cosine
    * neighbors of each query among the corpus of its 3 probed cells.
    */
  private def ivfSearchOracle(cents: String): String =
    s"""${probeCtes(cents, 3)},
      scored AS (
        SELECT p.vec_id, cc.neighbor_id,
          list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                 CAST(e.embedding AS DOUBLE[])) AS cos
        FROM probed p
        JOIN corpus_cells cc ON cc.cell_id = p.cell_id
        JOIN embeddings q ON q.vec_id = p.vec_id
        JOIN embeddings e ON e.vec_id = cc.neighbor_id
        WHERE cc.neighbor_id <> p.vec_id)
      ${rankOracle("cos", "scored", 5)}"""

  /** IVF scale-path ANN: centroids are deterministic representatives
    * (each label's lowest-id vector), every corpus vector is assigned
    * to its nearest centroid cell, and each query searches only its
    * `nprobe`=3 closest cells — the partition-pruned search that
    * replaces a full corpus scan at 100 TB. Rank-only output.
    */
  val q46 = Q("q46_ann_ivf",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val minIds = emb.groupBy("label").agg(min("vec_id").as("cvid"))
        .select("cvid")
      val centroids = emb.join(minIds,
          emb("vec_id") === minIds("cvid"))
        .select(emb("label").as("cell_id"),
          transform(col("embedding"), x => x.cast("double")).as("centroid"))
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, centroids,
        "vec_id", "embedding", k = 5, nprobe = 3)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some(s"""
      WITH centroids AS (
        SELECT e.label AS cell_id, CAST(e.embedding AS DOUBLE[]) AS centroid
        FROM embeddings e
        JOIN (SELECT label, MIN(vec_id) AS cvid FROM embeddings GROUP BY label) m
          ON e.vec_id = m.cvid),
      ${ivfSearchOracle("centroids")}"""))

  /** SRP-LSH near-dup pairs over `planes` ±1 hyperplanes (dim 64) in
    * bands of `rowsPerBand` bits, verified at cosine ≥ 0.35. The planes
    * are derived from md5 in Scala and emitted as LITERALS into both the
    * Spark plan and the oracle SQL — single source of truth, no hash
    * math in SQL.
    */
  private def srpQ(name: String, planes: Int, rowsPerBand: Int): Q = {
    val signs = Similarity.srpSigns(planes, dim = 64)
    val values = signs.zipWithIndex.map { case (s, p) =>
      s"($p, [${s.map(v => if (v > 0) "1.0" else "-1.0").mkString(", ")}])"
    }.mkString(", ")
    Q(name,
      (s, dir) => Similarity.srpNearDupPairs(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        signs, rowsPerBand = rowsPerBand, threshold = 0.35),
      Some(s"""
      WITH hp(p, sv) AS (VALUES $values),
      bits AS (SELECT vec_id,
          string_agg(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), sv) > 0
                          THEN '1' ELSE '0' END, '' ORDER BY p) AS bits
        FROM embeddings CROSS JOIN hp GROUP BY vec_id),
      bands AS (SELECT vec_id, band,
          substr(bits, band * $rowsPerBand + 1, $rowsPerBand) AS bb
        FROM bits
        CROSS JOIN (SELECT unnest(range(${planes / rowsPerBand})) AS band) bd),
      cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bb = b.bb
          AND a.vec_id < b.vec_id)
      SELECT c.vec_a, c.vec_b
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE ${cosineAtLeast("ea", "eb")}"""))
  }

  /** SRP-LSH (random-hyperplane) bucketed near-dup pairs + exact cosine
    * verify — the unsupervised LSH-bucketed ANN scale path (no blocking
    * label needed, unlike q44): 64 sign bits, 8 bands × 8 bits,
    * candidates collide on a full band, verified at cosine ≥ 0.35.
    * (8-bit bands: random pairs collide ~0.4% per band and the join key
    * space is 8×256 — r7's 4-bit bands put ~6% of ALL pairs through the
    * verify over a 64-value key space: skew + a quadratic constant.)
    */
  val q62 = srpQ("q62_srp_lsh", planes = 64, rowsPerBand = 8)

  /** SRP-LSH with the BAND-WIDTH DIAL TURNED FOR CORPUS SIZE — q62's
    * operator with 96 planes split 8 bands × 12 bits. Why it exists:
    * LSH candidate volume for non-dup pairs is ~ n²·bands·2^-w (w =
    * bits per band), so any FIXED w goes quadratic once n outgrows
    * 2^w — q62's 8-bit bands measured 23x wall at 10x rows (sf0.1 →
    * sf1: the 256-value band key space saturates; every bucket pair
    * count grows 100x). Four more bits cut random collisions 16x at
    * the same recall order (true near-dups in this corpus sit at
    * cos ≥ ~0.9 → per-bit agreement ~0.9 → ≥1-of-8-bands recall
    * 0.93 at w=12 vs 0.989 at w=8), restoring ~linear scaling. The
    * production rule documented in SCALING.md: pick w ≈ log2(n) −
    * log2(target bucket occupancy); widen by adding planes, never by
    * shrinking the band count (recall falls exponentially in w but is
    * recovered linearly in bands).
    */
  val q110 = srpQ("q110_srp_lsh_scaled", planes = 96, rowsPerBand = 12)

  /** Shared oracle CTE chain for the k-means queries (q72/q85/q102,
    * and q105 with `p` = "i" so its names compose with [[pqCtesK]]):
    * min-id seeds (cell_id = id-rank) + two Lloyd passes → final
    * centroids `${p}c2`. Each consumer appends its own corpus assignment
    * over them — mirror of [[Similarity.kmeansCentroids]] with the given
    * k, iters=2.
    */
  private def lloydCtes(k: Int, p: String = ""): String = {
    val passes = (1 to 2).map { i =>
      val prev = if (i == 1) s"${p}seeds" else s"${p}c${i - 1}"
      s"""${p}a$i AS (${nearestCells(prev, 1)}),
      ${p}c$i AS (SELECT cell_id, list(m ORDER BY d) AS centroid FROM (
          SELECT a.cell_id, u.d, AVG(u.v) AS m
          FROM ${p}a$i a JOIN embeddings e USING (vec_id),
            LATERAL (SELECT unnest(CAST(e.embedding AS DOUBLE[])) AS v,
                     generate_subscripts(e.embedding, 1) AS d) u
          GROUP BY a.cell_id, u.d) GROUP BY cell_id)"""
    }
    s"""${p}seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
               CAST(embedding AS DOUBLE[]) AS centroid
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT $k)),
      ${passes.mkString(",\n      ")}"""
  }

  /** IVF with LEARNED centroids — the honest ANN scale path (real
    * corpora have no labels to seed cells from, unlike q46): k-means
    * (k=8, 2 fixed Lloyd iterations, min-id seeding — deterministic,
    * no RNG — shared oracle chain [[lloydCtes]]), the corpus
    * MATERIALIZED as a cell-partitioned parquet
    * index via [[Similarity.writeIvfIndex]], and the probe running over
    * the index through partition pruning ([[Similarity.ivfTopKIndexed]])
    * — so the oracle covers centroid learning AND the indexed read
    * path in one query. Assignment margins are ~5.7e-4 at sf0.01,
    * ~10 orders above cross-engine fp accumulation noise. Rank-only
    * output.
    */
  val q72 = Q("q72_kmeans_ivf",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // kmeansCentroids returns a k × dim LITERAL frame (each Lloyd
      // pass collects its centroids), so the three downstream plans
      // (index write assignment, probe, search) re-read k rows, not
      // the iteration lineage — no persist needed
      val centroids = Similarity.kmeansCentroids(
        emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
      // slot-claimed scratch: one index per JVM, the previous run's
      // reclaimed, and concurrent JVMs never clobber each other's
      val idxPath = graft.core.TempDirs.claim("graft_q72_ivf") + "/index"
      Similarity.writeIvfIndex(emb, centroids, "vec_id", "embedding",
        idxPath)
      Similarity.ivfTopKIndexed(s, idxPath,
        emb.filter(col("vec_id") < 10), centroids,
        "vec_id", "embedding", k = 5, nprobe = 3)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some(s"""
      WITH ${lloydCtes(8)},
      ${ivfSearchOracle("c2")}"""))

  /** Shared oracle CTE chain for the PQ queries (q81/q83): training
    * (seeds → one Lloyd mean-update with empty-cell carry-over),
    * encoding, per-query LUTs, and the summed ADC scores. See q81's
    * scaladoc for the operator description.
    */
  private val pqCtes = """ms AS (SELECT unnest(range(8)) AS m),
      seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM (SELECT vec_id, embedding FROM embeddings
                      ORDER BY vec_id LIMIT 16)),
      cb0 AS (SELECT m.m, s.code, list_slice(s.v, m.m*8+1, m.m*8+8) AS cw
              FROM seeds s CROSS JOIN ms m),
      sub AS (SELECT e.vec_id, m.m,
                     list_slice(CAST(e.embedding AS DOUBLE[]),
                                m.m*8+1, m.m*8+8) AS sub
              FROM embeddings e CROSS JOIN ms m),
      a1 AS (SELECT vec_id, m, code FROM (
               SELECT s.vec_id, s.m, c.code,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY list_distance(s.sub, c.cw) ASC, c.code ASC) AS rn
               FROM sub s JOIN cb0 c ON c.m = s.m) WHERE rn = 1),
      means AS (SELECT m, code, list(mv ORDER BY d) AS cw FROM (
                  SELECT a.m, a.code, u.d, AVG(u.v) AS mv
                  FROM a1 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
                    LATERAL (SELECT unnest(s.sub) AS v,
                             generate_subscripts(s.sub, 1) AS d) u
                  GROUP BY a.m, a.code, u.d) GROUP BY m, code),
      cb1 AS (SELECT * FROM means
              UNION ALL
              SELECT c.m, c.code, c.cw FROM cb0 c
              WHERE NOT EXISTS (SELECT 1 FROM means x
                                WHERE x.m = c.m AND x.code = c.code)),
      codes AS (SELECT vec_id, m, code FROM (
                  SELECT s.vec_id, s.m, c.code,
                    row_number() OVER (PARTITION BY s.vec_id, s.m
                      ORDER BY list_distance(s.sub, c.cw) ASC, c.code ASC) AS rn
                  FROM sub s JOIN cb1 c ON c.m = s.m) WHERE rn = 1),
      lut AS (SELECT q.vec_id, c.m, c.code,
                     list_dot_product(
                       list_slice(CAST(q.embedding AS DOUBLE[]),
                                  c.m*8+1, c.m*8+8), c.cw) AS val
              FROM embeddings q CROSS JOIN cb1 c WHERE q.vec_id < 10),
      scored AS (SELECT l.vec_id, t.vec_id AS neighbor_id,
                        SUM(l.val) AS score
                 FROM codes t JOIN lut l ON l.m = t.m AND l.code = t.code
                 WHERE t.vec_id <> l.vec_id
                 GROUP BY l.vec_id, t.vec_id)"""

  private def trainedCodebook(s: org.apache.spark.sql.SparkSession,
      dir: String) = Pq.train(Tables(s, dir, "embeddings"),
    "vec_id", "embedding", m = 8, k = 16, iters = 1, dim = 64)

  /** Product-quantization ANN — the compression scale path (IVF prunes
    * WHICH vectors are read; PQ shrinks WHAT is read ~64×: float[64] →
    * 8 codes). Codebooks are per-subspace k-means (M=8, K=16, min-id
    * seeds, 1 fixed Lloyd mean-update — deterministic), the corpus is
    * its code table, and search is the asymmetric-distance scan: one
    * M×K dot-product LUT per query, M lookups per corpus row. The
    * oracle replicates training, encoding and ADC in SQL (empty cells
    * keep their seed codeword on both sides). Rank-only output.
    */
  val q81 = Q("q81_pq_ann",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cb = trainedCodebook(s, dir)
      val codes = Pq.encode(emb, "vec_id", "embedding", cb)
      Pq.topK(emb.filter(col("vec_id") < 10), codes, cb,
        "vec_id", "embedding", k = 10)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some(s"""
      WITH $pqCtes
      ${rankOracle("score", "scored", 10)}"""))

  /** The two-stage oracles' exact stage, the mirror of `Pq.rerank`:
    * `from`'s top-`shortlist` ADC candidates per query, re-ranked by
    * exact cosine to a top-10.
    */
  private def rerankOracle(from: String, shortlist: Int): String =
    s"""cand AS (SELECT vec_id, neighbor_id FROM (
          SELECT vec_id, neighbor_id, row_number() OVER (PARTITION BY vec_id
            ORDER BY score DESC, neighbor_id ASC) AS rn FROM $from)
        WHERE rn <= $shortlist),
      rer AS (SELECT c.vec_id, c.neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])) AS cos
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.vec_id
              JOIN embeddings e ON e.vec_id = c.neighbor_id)
      ${rankOracle("cos", "rer", 10)}"""

  /** Two-stage PQ search: ADC shortlist (50) from the code table, then
    * exact cosine re-rank of ONLY the shortlisted raw vectors — the
    * production serving shape (quantization error affects recall, never
    * the ordering of what is returned). The oracle extends q81's CTE
    * chain with the candidate cut and the exact re-rank. Rank-only.
    */
  val q83 = Q("q83_pq_rerank",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cb = trainedCodebook(s, dir)
      val codes = Pq.encode(emb, "vec_id", "embedding", cb)
      Pq.topKReranked(emb.filter(col("vec_id") < 10), codes, emb, cb,
        "vec_id", "embedding", k = 10, shortlist = 50)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some(s"""
      WITH $pqCtes,
      ${rerankOracle("scored", 50)}"""))

  /** SemDeDup over `k` clusters (iters=2, τ=0.35, maxBlock=256) and
    * its oracle: the [[lloydCtes]] clustering, each vector's final cell,
    * and the [[cosineAtLeast]] drop of every vector with a lower-id
    * same-cell neighbor.
    */
  private def semDedupQ(name: String, k: Int): Q =
    Q(name,
      (s, dir) => Similarity.semDedup(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", k = k, iters = 2, threshold = 0.35,
        dim = 64, maxBlock = 256),
      Some(s"""
      WITH ${lloydCtes(k)},
      cells AS (${nearestCells("c2", 1)}),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE ${cosineAtLeast("ea", "eb")})
      SELECT c.vec_id, CAST(c.cell_id AS INT) AS cell_id,
             d.vec_id IS NULL AS keep
      FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id"""))

  /** SemDeDup ([[Similarity.semDedup]]): k-means clustering (the q72
    * Lloyd chain, k=8, iters=2) + within-cluster cosine dedup at
    * τ=0.35 — drop every vector with a lower-id same-cluster neighbor
    * at or above the threshold. The oracle reuses [[lloydCtes]] and the
    * q44 dot/norm formulation (both bit-parity precedents); output is
    * (vec_id, cell_id, keep) over the whole corpus, so the hash check
    * pins the clustering AND the drop decisions.
    */
  val q85 = semDedupQ("q85_semdedup", k = 8)

  /** SemDeDup at the SCALE-PROPORTIONAL cluster count (k = 64 ≈ n/8 at
    * this corpus — SemDeDup's own discipline is cluster count ∝ corpus
    * so the within-cluster quadratic stays bounded; q85's k=8 is the
    * oracle-tractability point, this is the config the operator runs
    * at scale). Same Lloyd chain, threshold and salting; only k moves.
    * Benching BOTH points makes the documented k∝n discipline a
    * measured artifact line instead of a probe-only claim.
    */
  val q102 = semDedupQ("q102_semdedup_scaled", k = 64)

  /** Oracle CTE chain for the SERVING-grade PQ codebook (M=8, K=64,
    * THREE Lloyd mean-updates — vs q81's oracle-tractability point
    * M=8/K=16/1 iter): seeds → per-iteration assignment (L2, ties to
    * the lower code) + mean update + empty-cell carry-over from the
    * PREVIOUS iteration's codebook, mirroring [[Pq.train]] exactly.
    * Emits `cb$iters` as the final codebook and `codes` as the corpus
    * code table.
    */
  private def pqCtesK(k: Int, iters: Int): String = {
    val head = s"""ms AS (SELECT unnest(range(8)) AS m),
      pseeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
                       CAST(embedding AS DOUBLE[]) AS v
                FROM (SELECT vec_id, embedding FROM embeddings
                      ORDER BY vec_id LIMIT $k)),
      cb0 AS (SELECT m.m, s.code, list_slice(s.v, m.m*8+1, m.m*8+8) AS cw
              FROM pseeds s CROSS JOIN ms m),
      sub AS (SELECT e.vec_id, m.m,
                     list_slice(CAST(e.embedding AS DOUBLE[]),
                                m.m*8+1, m.m*8+8) AS sub
              FROM embeddings e CROSS JOIN ms m)"""
    val its = (1 to iters).map { i =>
      s"""pa$i AS (SELECT vec_id, m, code FROM (
               SELECT s.vec_id, s.m, c.code,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY list_distance(s.sub, c.cw) ASC, c.code ASC) AS rn
               FROM sub s JOIN cb${i - 1} c ON c.m = s.m) WHERE rn = 1),
      pm$i AS (SELECT m, code, list(mv ORDER BY d) AS cw FROM (
                  SELECT a.m, a.code, u.d, AVG(u.v) AS mv
                  FROM pa$i a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
                    LATERAL (SELECT unnest(s.sub) AS v,
                             generate_subscripts(s.sub, 1) AS d) u
                  GROUP BY a.m, a.code, u.d) GROUP BY m, code),
      cb$i AS (SELECT * FROM pm$i
              UNION ALL
              SELECT c.m, c.code, c.cw FROM cb${i - 1} c
              WHERE NOT EXISTS (SELECT 1 FROM pm$i x
                                WHERE x.m = c.m AND x.code = c.code))"""
    }.mkString(",\n      ")
    s"""$head,
      $its,
      codes AS (SELECT vec_id, m, code FROM (
                  SELECT s.vec_id, s.m, c.code,
                    row_number() OVER (PARTITION BY s.vec_id, s.m
                      ORDER BY list_distance(s.sub, c.cw) ASC, c.code ASC) AS rn
                  FROM sub s JOIN cb$iters c ON c.m = s.m) WHERE rn = 1)"""
  }

  /** The SERVING configuration, oracle-pinned end to end: IVF-PQ index
    * (learned 16-cell IVF, K=64 3-Lloyd PQ codebook — the
    * serving-grade codebook the r14 recall probe quantified, vs q81's
    * K=16 oracle point at ADC recall 0.05) → probe-pruned ADC
    * shortlist(200) at nprobe=8 → exact cosine re-rank → top-10
    * ([[Pq.ivfTopKReranked]]). This is the configuration a deployment
    * runs — the same composed path RecallProbe measures recall/cost
    * curves for and PqSpec floor-asserts; here every stage (IVF
    * training, PQ training with per-iteration empty-cell carry-over,
    * encoding, cell assignment, probing, ADC, re-rank) is replicated
    * in SQL and the final ranking hash-checked. Rank-only output.
    */
  val q105 = Q("q105_ivfpq_serving",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val centroids = Similarity.kmeansCentroids(
        emb, "vec_id", "embedding", k = 16, iters = 2, dim = 64)
      val cb = Pq.train(emb, "vec_id", "embedding", m = 8, k = 64,
        iters = 3, dim = 64)
      // slot-claimed scratch: each run reclaims the previous run's
      // multi-GB-at-scale index instead of leaving per-applicationId
      // residue under /tmp (same fix as q80's temp store)
      val idxPath = graft.core.TempDirs.claim("graft_q105_ivfpq") +
        "/index"
      Pq.writeIvfIndex(emb, centroids, "vec_id", "embedding", cb, idxPath)
      Pq.ivfTopKReranked(s, idxPath, emb.filter(col("vec_id") < 10),
        centroids, emb, cb, "vec_id", "embedding", k = 10, nprobe = 8,
        shortlist = 200)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    },
    Some(s"""
      WITH ${pqCtesK(64, 3)},
      ${lloydCtes(16, "i")},
      ${probeCtes("ic2", 8)},
      lut AS (SELECT q.vec_id, c.m, c.code,
                     list_dot_product(
                       list_slice(CAST(q.embedding AS DOUBLE[]),
                                  c.m*8+1, c.m*8+8), c.cw) AS val
              FROM embeddings q CROSS JOIN cb3 c WHERE q.vec_id < 10),
      adc AS (SELECT l.vec_id, t.vec_id AS neighbor_id,
                     SUM(l.val) AS score
              FROM codes t
              JOIN corpus_cells cc ON cc.neighbor_id = t.vec_id
              JOIN probed p ON p.cell_id = cc.cell_id
              JOIN lut l ON l.m = t.m AND l.code = t.code
                        AND l.vec_id = p.vec_id
              WHERE t.vec_id <> l.vec_id
              GROUP BY l.vec_id, t.vec_id),
      ${rerankOracle("adc", 200)}"""))

  override def all: Seq[Q] =
    Seq(q30, q31, q44, q46, q62, q72, q81, q83, q85, q102, q105, q110)
}
