package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Pq, Similarity}

/** Product-quantization family: encode/LUT/ADC expression math against
  * independent Scala recomputation, Lloyd monotonicity, and the IVF-PQ
  * index path's consistency with the exhaustive ADC scan.
  */
class PqSpec extends SparkSpec {

  private val dim = 64
  private val (m, k, ds) = (8, 16, 8)
  private lazy val emb = Tables(spark, sfDir, "embeddings")
  private lazy val cb = Pq.train(emb, "vec_id", "embedding",
    m, k, iters = 1, dim = dim)

  private lazy val raw: Map[Long, Array[Double]] = emb
    .select(col("vec_id"), transform(col("embedding"),
      x => x.cast("double")).as("v"))
    .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  test("codebook shape and code range") {
    assert(cb.size == m && cb.forall(s => s.size == k && s.forall(_.size == ds)))
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
      .select(explode(col("codes"))).collect().map(_.getInt(0))
    assert(codes.forall(c => c >= 0 && c < k))
  }

  test("encode expression = independent Scala argmin; ADC = lut sum") {
    def sq(a: Array[Double], mi: Int, cw: Seq[Double]): Double = {
      var d = 0.0; var j = 0
      while (j < ds) { val t = a(mi * ds + j) - cw(j); d += t * t; j += 1 }
      d
    }
    val encoded = Pq.encode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    raw.foreach { case (id, v) =>
      val expect = (0 until m).map { mi =>
        (0 until k).minBy(ki => (sq(v, mi, cb(mi)(ki)), ki))
      }
      assert(encoded(id) == expect, s"encode mismatch for vec $id")
    }
    // ADC score for one query against all: expression vs Scala lookups
    val qv = raw(0L)
    val lut = Array.tabulate(m, k)((mi, ki) =>
      (0 until ds).map(j => qv(mi * ds + j) * cb(mi)(ki)(j)).sum)
    val scored = Pq.topK(emb.filter(col("vec_id") === 0), // query 0
      Pq.encode(emb, "vec_id", "embedding", cb), cb,
      "vec_id", "embedding", k = 5).collect()
    val expectTop = encoded.toSeq.filter(_._1 != 0L)
      .map { case (id, codes) =>
        id -> codes.zipWithIndex.map { case (c, mi) => lut(mi)(c) }.sum }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(scored.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq == expectTop)
  }

  test("one Lloyd pass does not increase quantization error") {
    val seedsOnly = Pq.train(emb, "vec_id", "embedding",
      m, k, iters = 0, dim = dim)
    def mse(codebook: Seq[Seq[Seq[Double]]]): Double = {
      val enc = Pq.encode(emb, "vec_id", "embedding", codebook)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      raw.map { case (id, v) =>
        (0 until m).map { mi =>
          val cw = codebook(mi)(enc(id)(mi))
          (0 until ds).map { j =>
            val t = v(mi * ds + j) - cw(j); t * t }.sum
        }.sum
      }.sum / raw.size
    }
    assert(mse(cb) <= mse(seedsOnly) + 1e-12)
  }

  test("IVF-PQ index: pruned search equals ADC restricted to probed cells") {
    val centroids = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 1, dim = dim)
    val path = java.nio.file.Files
      .createTempDirectory("pq_ivf").toString + "/idx"
    Pq.writeIvfIndex(emb, centroids, "vec_id", "embedding", cb, path)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Pq.ivfTopK(spark, path, queries, centroids, cb,
      "vec_id", "embedding", k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // reference: same probed cells, exhaustive ADC over the in-memory
    // code table filtered to those cells
    val probed = Similarity.probeCells(queries, centroids,
      "vec_id", "embedding", nprobe = 2)
      .select("vec_id", "cell_id")
      .collect().map(r => (r.getLong(0), r.get(1))).toSet
    val cells = Reference.assignCells(emb, centroids, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val enc = Pq.encode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expect = probed.groupBy(_._1).flatMap { case (qid, pc) =>
      val probedCells = pc.map(_._2)
      val qv = raw(qid)
      val lut = Array.tabulate(m, k)((mi, ki) =>
        (0 until ds).map(j => qv(mi * ds + j) * cb(mi)(ki)(j)).sum)
      enc.toSeq
        .filter { case (id, _) => id != qid && probedCells(cells(id)) }
        .map { case (id, codes) =>
          id -> codes.zipWithIndex.map { case (c, mi) => lut(mi)(c) }.sum }
        .sortBy { case (id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }.toSet
    assert(got == expect)
  }

  test("rerank returns the exact-cosine ordering of the ADC shortlist") {
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Pq.topKReranked(queries, codes, emb, cb,
      "vec_id", "embedding", k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val shortlists = Pq.topK(queries, codes, cb, "vec_id", "embedding", 50)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSeq }
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expect = shortlists.flatMap { case (qid, ids) =>
      ids.map(id => (id, cosine(raw(qid), raw(id))))
        .sortBy { case (id, c) => (-c, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }.toSet
    assert(got == expect)
  }

  test("ADC ranking carries real signal: planted near-dups surface") {
    // q44's ground truth: same-label pairs with cosine >= 0.35. For each
    // left vector, its near-dup partner should appear in the PQ top-10
    // far more often than the ~0.5% random-chance rate.
    val pairs = Similarity.nearDupPairsSalted(emb, "label", "vec_id",
      "embedding", threshold = 0.35, maxBlock = 256)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    val queries = emb.filter(col("vec_id").isin(pairs.map(_._1): _*))
    val top = Pq.topK(queries, Pq.encode(emb, "vec_id", "embedding", cb),
      cb, "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val hits = pairs.count { case (a, b) => top(a).contains(b) }
    // absolute recall is modest by design — a 1-pass M=8/K=16 codebook
    // over near-orthogonal random vectors is a coarse quantizer, and
    // the planted pairs sit at cosine 0.35, not 0.95 (measured ~0.21
    // here). The assertion is against CHANCE: top-10 of N vectors is a
    // 10/N random-hit rate (2% at this SF); demand ≥ 5× that.
    val chance = 10.0 / raw.size
    assert(hits.toDouble / pairs.size > 5 * chance,
      s"recall of planted near-dups at chance level: $hits/${pairs.size}")
  }

  test("IVF index append: searches see corpus + batch, layout intact") {
    val centroids = Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", k = 8, iters = 2, dim = dim)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_append_" +
      spark.sparkContext.applicationId
    Similarity.writeIvfIndex(half, centroids, "vec_id", "embedding", path)
    Similarity.appendToIvfIndex(batch, centroids, "vec_id", "embedding",
      path)
    // the appended index answers exactly like a direct IVF search over
    // the full corpus with the same frozen centroids
    val queries = emb.filter(col("vec_id") < 10)
    val viaIndex = Similarity.ivfTopKIndexed(spark, path, queries,
      centroids, "vec_id", "embedding", 10, nprobe = 4)
    val direct = Similarity.ivfTopK(queries, emb, centroids, "vec_id",
      "embedding", 10, nprobe = 4)
    assert(viaIndex.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaIndex).isEmpty)
    // every appended row landed in its assigned cell partition — the
    // invariant probe pruning depends on
    val idx = spark.read.parquet(path)
      .select(col("vec_id"), col("cell_id").cast("int").as("cell_id"))
    val expect = Reference.assignCells(emb, centroids, "vec_id",
      "embedding")
      .select(col("vec_id"), col("cell_id").cast("int").as("cell_id"))
    assert(idx.exceptAll(expect).isEmpty && expect.exceptAll(idx).isEmpty)
    // compaction: cells fragmented by the append (build file + append
    // file) collapse to one packed file each; search results identical
    // count data files in the CURRENT version root (compaction
    // installs packed cells as a new version and flips a pointer)
    def cellFileCounts(): Map[String, Int] = {
      val root = new java.io.File(
        Similarity.currentIvfRoot(spark, path))
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("cell_id=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val before = cellFileCounts()
    assert(before.values.exists(_ > 1), s"append left no fragmentation? $before")
    Similarity.compactIvfCells(spark, path)
    val after = cellFileCounts()
    assert(after.values.forall(_ == 1), s"compaction left fragments: $after")
    assert(after.keySet == before.keySet)
    val viaCompacted = Similarity.ivfTopKIndexed(spark, path, queries,
      centroids, "vec_id", "embedding", 10, nprobe = 4)
    assert(viaCompacted.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaCompacted).isEmpty)
    // targeted compaction only touches the named cells: re-fragment one
    // cell, compact a DIFFERENT one, the fragmented cell keeps its files
    Similarity.appendToIvfIndex(batch, centroids, "vec_id", "embedding",
      path)
    val frag = cellFileCounts().filter(_._2 > 1).keys.head
      .stripPrefix("cell_id=")
    val otherCell = after.keys.map(_.stripPrefix("cell_id="))
      .find(_ != frag).get
    Similarity.compactIvfCells(spark, path, cells = Seq(otherCell))
    assert(cellFileCounts()(s"cell_id=$frag") > 1)
  }

  test("recall@10 floors vs exact ground truth: IVF nprobe curve, " +
      "PQ rerank ladder, SRP banding dial") {
    // The oracle suite proves the approximate searchers are
    // DETERMINISTIC; this pins that they are GOOD — measured floors
    // (RecallProbe, SCALING.md r14 curves) with margin for fp
    // assignment jitter. A floor regression means a quality break the
    // hash oracles cannot see.
    val queries = emb.filter(col("vec_id") < 50)
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", 10).persist()
    truth.count()
    val centroids = Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", k = 16, iters = 2, dim = dim)
    def ivfRecall(nprobe: Int): Double = Similarity.meanRecallAtK(
      Similarity.ivfTopK(queries, emb, centroids, "vec_id", "embedding",
        10, nprobe), truth)
    val (r1, r4, r8, r16) =
      (ivfRecall(1), ivfRecall(4), ivfRecall(8), ivfRecall(16))
    // more probes can only add candidates: recall is monotone
    assert(r1 <= r4 && r4 <= r8 && r8 <= r16,
      s"nprobe monotonicity: $r1 $r4 $r8 $r16")
    // measured 0.858 / 1.0 at this config — floors with margin
    assert(r8 >= 0.80, s"ivf nprobe=8 recall $r8")
    assert(r16 >= 0.999, s"nprobe=cells is exhaustive: $r16")
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val adc = Similarity.meanRecallAtK(
      Pq.topK(queries, codes, cb, "vec_id", "embedding", 10), truth)
    def rerank(shortlist: Int): Double = Similarity.meanRecallAtK(
      Pq.topKReranked(queries, codes, emb, cb, "vec_id", "embedding",
        10, shortlist), truth)
    val (rr50, rr200, rr1000) = (rerank(50), rerank(200), rerank(1000))
    // exact re-rank of a superset shortlist can only improve recall
    assert(adc <= rr50 && rr50 <= rr200 && rr200 <= rr1000,
      s"rerank ladder: $adc $rr50 $rr200 $rr1000")
    // measured 0.65 / 0.942 / 1.0 — floors with margin
    assert(rr200 >= 0.90, s"rerank@200 recall $rr200")
    assert(rr1000 >= 0.999, s"rerank@1000 covers this corpus: $rr1000")
    // SRP pair recall: 8 bands of 8 bits catch ~17% of threshold-grade
    // pairs ((1-θ/π)^8 per band — the high-precision candidate config);
    // 16 bands of 4 bits catch >90%. The dial must keep that ordering.
    def srpRecall(rpb: Int): Double = {
      val found = Similarity.srpNearDupPairs(emb, "vec_id", "embedding",
        Similarity.srpSigns(64, dim), rowsPerBand = rpb, threshold = 0.35)
      val (hit, tot) = Similarity.pairRecall(found, emb, "vec_id",
        "embedding", 0.35)
      if (tot == 0) 1.0 else hit.toDouble / tot
    }
    val (s8, s4) = (srpRecall(8), srpRecall(4))
    assert(s4 >= 0.85, s"srp rowsPerBand=4 pair recall $s4")
    assert(s4 > s8, s"looser bands must raise recall: $s4 vs $s8")
  }

  test("serving config (q105): composed IVF-PQ + rerank recall floor " +
      "and nprobe monotonicity") {
    // the configuration q105 oracle-pins and RecallProbe curves:
    // 16-cell IVF, K=64 3-Lloyd codebook, ADC shortlist 200, exact
    // re-rank — the floor asserts the COMPOSED path stays serving-fit
    // (recall bounded by min(cell coverage, shortlist quality))
    val queries = emb.filter(col("vec_id") < 50)
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id",
      "embedding", 10).persist()
    truth.count()
    val centroids = Similarity.kmeansCentroids(emb, "vec_id",
      "embedding", k = 16, iters = 2, dim = dim)
    val cb64 = Pq.train(emb, "vec_id", "embedding", m, 64, iters = 3,
      dim = dim)
    val idx = java.nio.file.Files
      .createTempDirectory("pqspec_ivfpq").toString
    try {
      Pq.writeIvfIndex(emb, centroids, "vec_id", "embedding", cb64, idx)
      def recall(nprobe: Int, shortlist: Int): Double =
        Similarity.meanRecallAtK(
          Pq.ivfTopKReranked(spark, idx, queries, centroids, emb, cb64,
            "vec_id", "embedding", 10, nprobe, shortlist), truth)
      val r8 = recall(8, 200)
      val r16 = recall(16, 200)
      assert(r8 >= 0.80, s"ivfpq nprobe=8 rerank@200 recall $r8")
      // more probed cells can only add candidates
      assert(r16 >= r8, s"nprobe monotonicity: $r16 < $r8")
      assert(r16 >= 0.90, s"ivfpq nprobe=16 rerank@200 recall $r16")
    } finally graft.core.TempDirs.deleteRecursively(idx)
  }

  /** 200 seeded Gaussian vectors (dim 16), its first 20 as queries, and
    * 8 k-means cells over it: small enough for exact rank-by-rank
    * equalities between the search paths.
    */
  private lazy val seeded = {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }
  private lazy val seededQueries = seeded.filter(col("vec_id") < 20)
  private lazy val seededCells = Similarity.kmeansCentroids(seeded,
    "vec_id", "embedding", k = 8, iters = 2, dim = 16)

  private def ranks(df: DataFrame): Seq[(Long, Int, Long)] =
    df.orderBy("vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("IVF over the corpus and over its index at full probe equals " +
      "brute force rank by rank") {
    assert(seededCells.count() == 8)
    val brute = ranks(Similarity.bruteForceTopK(seededQueries, seeded,
      "vec_id", "embedding", 10))
    assert(brute.size == 200)
    assert(ranks(Similarity.ivfTopK(seededQueries, seeded, seededCells,
      "vec_id", "embedding", 10, nprobe = 8)) == brute)
    val idx = java.nio.file.Files.createTempDirectory("pqspec_ivf").toString
    try {
      Similarity.writeIvfIndex(seeded, seededCells, "vec_id", "embedding",
        idx)
      assert(ranks(Similarity.ivfTopKIndexed(spark, idx, seededQueries,
        seededCells, "vec_id", "embedding", 10, nprobe = 8)) == brute)
    } finally graft.core.TempDirs.deleteRecursively(idx)
  }

  test("IVF-PQ re-rank at full probe equals the exhaustive PQ re-rank " +
      "rank by rank") {
    assert(seededCells.count() == 8)
    val cb16 = Pq.train(seeded, "vec_id", "embedding", m = 4, k = 8,
      iters = 2, dim = 16)
    val exhaustive = ranks(Pq.topKReranked(seededQueries,
      Pq.encode(seeded, "vec_id", "embedding", cb16), seeded, cb16,
      "vec_id", "embedding", k = 10, shortlist = 30))
    assert(exhaustive.size == 200)
    val idx = java.nio.file.Files.createTempDirectory("pqspec_ivfpq").toString
    try {
      Pq.writeIvfIndex(seeded, seededCells, "vec_id", "embedding", cb16, idx)
      assert(ranks(Pq.ivfTopKReranked(spark, idx, seededQueries,
        seededCells, seeded, cb16, "vec_id", "embedding", k = 10,
        nprobe = 8, shortlist = 30)) == exhaustive)
    } finally graft.core.TempDirs.deleteRecursively(idx)
  }
}
