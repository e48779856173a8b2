package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{PqEncodeExpr, PqLutExpr}

/** Product quantization — the compression layer that makes exhaustive
  * ANN feasible at 100 TB. The vector space R^dim is split into M
  * subspaces of ds = dim/M dimensions; each subspace gets its own
  * K-codeword codebook (per-subspace Lloyd k-means); a vector is stored
  * as its M nearest-codeword indices. With M=8, K=16 a 256-byte
  * float[64] becomes 8 codes — a ~64× smaller table whose full scan is
  * the asymmetric-distance (ADC) search: per query build one M×K
  * lookup table of subspace dot products, then score every stored code
  * row with M array lookups (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public literature, not the
  * reference, which has no ANN at all; this extends SURVEY §2's
  * beyond-reference similarity family alongside IVF and SRP-LSH).
  *
  * Scale shape:
  *  - training: per Lloyd pass, ONE corpus scan — the encode expression
  *    assigns all M subspaces in a single codegen'd loop, and the new
  *    means are (M·K) per-dim averages with map-side partial
  *    aggregation, so the shuffle carries O(partitions · M·K·ds)
  *    doubles regardless of corpus size. Like
  *    [[Similarity.kmeansCentroids]], each pass COLLECTS its M·K·ds
  *    doubles (~8 KB) and re-enters as a plan literal — plan depth
  *    stays constant, no pass re-executes downstream.
  *  - the codebook is a driver-side constant broadcast into every
  *    expression (addReferenceObj), exactly like IVF centroids and SRP
  *    planes — never a joined table.
  *  - search: queries (tiny) carry their LUT column and broadcast; the
  *    corpus side streams the CODE table ([[encode]]) — the
  *    64×-smaller scan is the point. Composed with IVF
  *    ([[writeIvfIndex]] / [[ivfTopK]]) the scan also prunes to the
  *    probed cells' parquet partitions: IVF-PQ, the standard
  *    billion-vector layout.
  *
  * Determinism (oracle + re-run reproducibility): codebook seeds are
  * the K lowest-id vectors' subvectors (code = id-rank), iteration
  * count fixed, argmin ties break toward the lower code, all sums
  * left-to-right in index order at double precision. A cell that loses
  * all members keeps its previous codeword (both engines implement the
  * same carry-over rule).
  */
object Pq {

  def encodeCol(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncodeExpr(ColumnBridge.expression(vec), codebooks))

  def lutCol(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqLutExpr(ColumnBridge.expression(vec), codebooks))

  /** Per-subspace Lloyd k-means. Returns codebooks(m)(code) =
    * ds-dim centroid. One corpus pass per iteration (all subspaces
    * fused); `iters` mean-updates after seeding.
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dim: Int): Seq[Seq[Seq[Double]]] = {
    val ds = dim / m
    require(m * ds == dim, s"dim $dim not divisible into $m subspaces")
    // seeds: the k lowest-id vectors, k×dim doubles — a plan parameter
    val seedRows = vectors.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0))
    require(seedRows.length == k, s"need ≥ $k vectors to seed, got ${seedRows.length}")
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m, k, ds)((mi, ki, j) => seedRows(ki)(mi * ds + j))
    val avgs = (1 to ds).map(j =>
      avg(element_at(col("sub"), j)).as(s"__a$j"))
    for (_ <- 1 to iters) {
      val next = cb.map(_.map(_.clone()))
      vectors
        .select(col(vecCol).as("v"),
          posexplode(encodeCol(col(vecCol), cb.map(_.map(_.toSeq).toSeq).toSeq)))
        .withColumnRenamed("pos", "m").withColumnRenamed("col", "code")
        .withColumn("sub",
          transform(slice(col("v"), col("m") * ds + 1, lit(ds)),
            x => x.cast("double")))
        .groupBy("m", "code")
        .agg(avgs.head, avgs.tail: _*)
        .collect()
        .foreach { r =>
          val (mi, ki) = (r.getInt(0), r.getInt(1))
          var j = 0
          while (j < ds) { next(mi)(ki)(j) = r.getDouble(2 + j); j += 1 }
        }
      cb = next
    }
    cb.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** The corpus as its PQ code table: (idCol, codes array<int>). This
    * is the frame worth materializing — it is what ADC scans.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus.select(col(idCol),
      encodeCol(col(vecCol), codebooks).as("codes"))

  /** Every query's LUT, collected in id order — a plan parameter
    * (|queries| × M·K doubles), exactly like IVF centroids and probe
    * cell lists. The LUT computation itself runs distributed (one
    * [[PqLutExpr]] pass over the query frame); only the result rides
    * the plan. Queries with a null vector have no LUT and are skipped.
    */
  private def collectLuts(queries: DataFrame, idCol: String,
      vecCol: String, codebooks: Seq[Seq[Seq[Double]]])
      : (Array[Long], Array[Double]) = {
    val rows = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), lutCol(col(vecCol), codebooks))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    (rows.map(_._1), rows.flatMap(_._2))
  }

  /** Exhaustive ADC top-k. One pass over the code table: a single
    * generated loop scores ALL queries per corpus row against the
    * referenced LUT matrix ([[graft.functions.PqAdcAllExpr]] — a
    * broadcast join would materialize |corpus|·|queries| rows each
    * carrying a 1 KB lut copy; measured ~30× the ADC arithmetic), then
    * a posexplode emits skinny (query, neighbor, score) rows and the
    * rank window's group-limit keeps top-k per query before the
    * shuffle. Rank ties break toward the lower neighbor id.
    */
  def topK(queries: DataFrame, corpusCodes: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], idCol: String, vecCol: String,
      k: Int): DataFrame =
    Similarity.rankTopK(
      adcScored(queries, corpusCodes, codebooks, idCol, vecCol)
        .filter(col("neighbor_id") =!= col("vec_id")), "score", k)

  /** Every (query, code row) ADC score as skinny
    * (vec_id, neighbor_id, `carry`…, score) rows: one generated loop
    * scores all queries per row against the referenced LUT matrix.
    */
  private def adcScored(queries: DataFrame, codes: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], idCol: String, vecCol: String,
      carry: Column*): DataFrame = {
    val (qids, luts) = collectLuts(queries, idCol, vecCol, codebooks)
    val scores = ColumnBridge.column(graft.functions.PqAdcAllExpr(
      ColumnBridge.expression(col("codes")), luts, qids.length,
      codebooks.size, codebooks.head.size))
    codes.select((col(idCol).as("neighbor_id") +: carry) :+
        posexplode(scores): _*)
      .select((element_at(lit(qids), col("pos") + 1).as("vec_id") +:
        col("neighbor_id") +: carry) :+ col("col").as("score"): _*)
  }

  /** Two-stage search — ADC shortlist, exact re-rank: the production
    * shape. Stage 1 scans the (64× smaller) code table for a
    * `shortlist`-sized candidate set per query; stage 2 fetches ONLY
    * the shortlisted raw vectors (an id equi-join, |queries|·shortlist
    * rows) and re-ranks by exact cosine. Quantization error affects
    * recall only, never the ordering of what is returned.
    */
  def topKReranked(queries: DataFrame, corpusCodes: DataFrame,
      corpusVecs: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String, vecCol: String, k: Int, shortlist: Int): DataFrame =
    rerank(topK(queries, corpusCodes, codebooks, idCol, vecCol, shortlist),
      queries, corpusVecs, idCol, vecCol, k)

  /** The exact stage of both two-stage searches: fetch each shortlisted
    * (vec_id, neighbor_id) pair's raw vectors by id and keep the top `k`
    * by exact cosine.
    */
  private def rerank(shortlisted: DataFrame, queries: DataFrame,
      corpusVecs: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qv"))
    Similarity.rankTopK(shortlisted.select("vec_id", "neighbor_id")
      .join(corpusVecs.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q), "vec_id")
      .withColumn("cos", Similarity.cosineNative(col("qv"), col("cv"))),
      "cos", k)
  }

  /** IVF-PQ index: code table partitioned by IVF cell. A probe reads
    * nprobe/ncells of a table that is already ~64× smaller than the
    * raw vectors — the standard billion-vector serving layout.
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    // encode + assign in ONE narrow pass over the corpus — the previous
    // argmax aggregation + id equi-join shuffled the corpus twice before
    // the write (guide §2.4); both kernels are per-row codegen'd loops
    corpus
      .select(col(idCol),
        encodeCol(col(vecCol), codebooks).as("codes"),
        Similarity.nearestCellCol(Similarity.centroidValues(centroids),
          col(vecCol)).as("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)

  /** The composed SERVING search — IVF-PQ shortlist, exact re-rank:
    * probe-pruned ADC over the cell-partitioned code table
    * ([[ivfTopK]]) produces a `shortlist`-sized candidate set per
    * query; only the shortlisted raw vectors are fetched (an id
    * equi-join, |queries|·shortlist rows) and re-ranked by exact
    * cosine. This is the configuration a deployment runs: scan cost
    * bounded by nprobe/ncells of a ~64×-compressed table, recall
    * bounded by min(cell coverage, shortlist quality) and raised by
    * turning the nprobe/shortlist dials — the recall-vs-cost curve is
    * measured in tools.RecallProbe and floor-asserted in PqSpec.
    */
  def ivfTopKReranked(spark: SparkSession, indexPath: String,
      queries: DataFrame, centroids: DataFrame, corpusVecs: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]], idCol: String, vecCol: String,
      k: Int, nprobe: Int, shortlist: Int): DataFrame =
    rerank(ivfTopK(spark, indexPath, queries, centroids, codebooks,
        idCol, vecCol, shortlist, nprobe),
      queries, corpusVecs, idCol, vecCol, k)

  /** ADC search over the probed cells only: the probed cell set is a
    * plan parameter pruning the partitioned scan (directories never
    * opened), then the same one-loop all-query scoring as [[topK]] —
    * the (query, cell) probe pairs filter the skinny exploded rows via
    * a broadcast semi-join, so no fat lut row ever crosses a join.
    */
  def ivfTopK(spark: SparkSession, indexPath: String, queries: DataFrame,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val probed = Similarity.probeCells(queries, centroids, idCol, vecCol,
      nprobe).select("vec_id", "cell_id")
    val probedPairs = probed.collect().map(r => (r.getLong(0), r.get(1)))
    val cellSet = probedPairs.map(_._2).distinct.toSeq
    val probedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probedPairs.toSeq.map {
        case (v, c) => org.apache.spark.sql.Row(v, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        probed.schema("cell_id"))))
    Similarity.rankTopK(
      adcScored(queries, Similarity.readProbedCells(spark, indexPath, cellSet),
          codebooks, idCol, vecCol, col("cell_id"))
        .join(broadcast(probedDf), Seq("vec_id", "cell_id"), "left_semi")
        .filter(col("neighbor_id") =!= col("vec_id")), "score", k)
  }
}
