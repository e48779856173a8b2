package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *    corpus side streams the CODE table (written once by
  *    [[writeIndex]]) — the 64×-smaller scan is the point. Composed
  *    with IVF ([[writeIvfIndex]] / [[ivfTopK]]) the scan also prunes
  *    to the probed cells' parquet partitions: IVF-PQ, the standard
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
      k: Int): DataFrame = {
    val (qids, luts) = collectLuts(queries, idCol, vecCol, codebooks)
    val (m, kCodes) = (codebooks.size, codebooks.head.size)
    val scores = ColumnBridge.column(graft.functions.PqAdcAllExpr(
      ColumnBridge.expression(col("codes")), luts, qids.length, m, kCodes))
    corpusCodes
      .select(col(idCol).as("neighbor_id"), posexplode(scores))
      .select(element_at(lit(qids), col("pos") + 1).as("vec_id"),
        col("neighbor_id"), col("col").as("score"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("rank", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
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
      idCol: String, vecCol: String, k: Int, shortlist: Int): DataFrame = {
    val cand = topK(queries, corpusCodes, codebooks, idCol, vecCol,
      shortlist).select("vec_id", "neighbor_id")
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qv"))
    cand
      .join(corpusVecs.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q), "vec_id")
      .withColumn("cos", Similarity.cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
  }

  /** Materialize the code table (one encode pass; the raw vectors are
    * not carried — re-join them by id for exact re-ranking if needed).
    */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], path: String): Unit =
    encode(corpus, idCol, vecCol, codebooks)
      .write.mode("overwrite").parquet(path)

  def topKIndexed(spark: SparkSession, indexPath: String,
      queries: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String, vecCol: String, k: Int): DataFrame =
    topK(queries,
      graft.operators.Similarity.readIvfIndex(spark, indexPath),
      codebooks, idCol, vecCol, k)

  /** IVF-PQ index: code table partitioned by IVF cell. A probe reads
    * nprobe/ncells of a table that is already ~64× smaller than the
    * raw vectors — the standard billion-vector serving layout.
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
      path: String): Unit =
    // encode + assign in ONE narrow pass over the corpus — the previous
    // assignCells + id equi-join shuffled the corpus twice before the
    // write (guide §2.4); both kernels are per-row codegen'd loops
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
      k: Int, nprobe: Int, shortlist: Int, dim: Int = -1): DataFrame = {
    val cand = ivfTopK(spark, indexPath, queries, centroids, codebooks,
      idCol, vecCol, shortlist, nprobe, dim)
      .select("vec_id", "neighbor_id")
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qv"))
    cand
      .join(corpusVecs.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q), "vec_id")
      .withColumn("cos", Similarity.cosineNative(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
  }

  /** ADC search over the probed cells only: the probed cell set is a
    * plan parameter pruning the partitioned scan (directories never
    * opened), then the same one-loop all-query scoring as [[topK]] —
    * the (query, cell) probe pairs filter the skinny exploded rows via
    * a broadcast semi-join, so no fat lut row ever crosses a join.
    */
  def ivfTopK(spark: SparkSession, indexPath: String, queries: DataFrame,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      dim: Int = -1): DataFrame = {
    val (m, kCodes) = (codebooks.size, codebooks.head.size)
    val probed = Similarity.probeCells(queries, centroids, idCol, vecCol,
      nprobe, dim).select("vec_id", "cell_id")
    val probedPairs = probed.collect().map(r => (r.getLong(0), r.get(1)))
    val cellSet = probedPairs.map(_._2).distinct.toSeq
    val (qids, luts) = collectLuts(queries, idCol, vecCol, codebooks)
    val scores = ColumnBridge.column(graft.functions.PqAdcAllExpr(
      ColumnBridge.expression(col("codes")), luts, qids.length, m, kCodes))
    val probedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(probedPairs.toSeq.map {
        case (v, c) => org.apache.spark.sql.Row(v, c) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        probed.schema("cell_id"))))
    graft.operators.Similarity.readIvfIndex(spark, indexPath)
      .filter(col("cell_id").isin(cellSet: _*))
      .select(col(idCol).as("neighbor_id"), col("cell_id"),
        posexplode(scores))
      .select(element_at(lit(qids), col("pos") + 1).as("vec_id"),
        col("neighbor_id"), col("cell_id"), col("col").as("score"))
      .join(broadcast(probedDf), Seq("vec_id", "cell_id"), "left_semi")
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("rank", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
  }
}
