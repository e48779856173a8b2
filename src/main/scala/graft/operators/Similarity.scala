package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Commit

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the full corpus; one pass, no shuffle of the corpus, then
  * a per-query top-k window on the scored pairs.
  *
  * Scale path: IVF-style partition pruning — assign every vector to its
  * nearest centroid (broadcast centroids), then search only the probed
  * cells. At 100 TB this turns a full-corpus scan into a scan of
  * nprobe/ncells of the data; cells are also the natural parquet
  * partition key for the vector table.
  */
object Similarity {

  /** Native codegen'd LOOP dot product (functions.DotProductExpr):
    * compact generated code at any dim, no interpreted lambdas — the
    * same left-to-right summation as a higher-order fold or an expanded
    * element_at chain, so results are bit-identical to both (the spec
    * baselines in `graft.Reference`). Accepts array<float> or
    * array<double> directly (no per-element cast expression needed).
    *
    * Measured on the q44-shaped pair workload (~5M same-label pairs,
    * dim 64, sf0.1): loop 0.25s vs interpreted fold 1.3s vs expanded
    * 64-term chain 3.6s — the loop supersedes both earlier forms on
    * every vector path.
    */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.DotProductExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The one vector cosine: every search, verify and probe scores
    * through it.
    */
  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** The tail of every top-k search: per `vec_id`, the `k` rows with the
    * highest `score`, ties to the lower neighbor id, as
    * (vec_id, rank, neighbor_id).
    */
  private[operators] def rankTopK(scored: DataFrame, score: String,
      k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col(score).desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("vec_id", "rank", "neighbor_id")

  /** Brute-force top-k cosine neighbors for each query vector.
    * Output: (vec_id, rank, neighbor_id) — integer-only so results are
    * robust to last-bit fp differences between engines.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("vec_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rankTopK(broadcast(q).crossJoin(c)
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("cos", cosineNative(col("qv"), col("cv"))), "cos", k)
  }

  /** Per-query recall of an approximate top-k result against exact
    * ground truth (both in the (vec_id, rank, neighbor_id) shape of
    * [[bruteForceTopK]]): the fraction of each query's TRUE top-k
    * neighbors that the approximate result returned. Rank order does
    * not matter — recall is set overlap, the standard ANN quality
    * metric. Output: (vec_id, n_truth, n_hit, recall).
    *
    * Scale shape: one equi-join on (query, neighbor) + one group —
    * both frames are k×|queries| rows, negligible next to the searches
    * being measured.
    */
  def recallAtK(approx: DataFrame, truth: DataFrame): DataFrame =
    truth.select(col("vec_id"), col("neighbor_id"))
      // distinct: a buggy searcher emitting duplicate neighbor rows
      // would multiply matched truth rows through the join, inflating
      // n_truth AND n_hit in lockstep — recall could read 1.0 while
      // coverage is short, masking exactly what this metric exists to
      // catch
      .join(approx.select(col("vec_id"), col("neighbor_id")).distinct()
          .withColumn("__hit", lit(1)),
        Seq("vec_id", "neighbor_id"), "left_outer")
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("__hit"), lit(0))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth"))

  /** Mean recall across queries — the single-number summary the specs
    * assert floors on and RecallProbe prints. Driver-side scalar: a
    * metric, not a data plane.
    */
  def meanRecallAtK(approx: DataFrame, truth: DataFrame): Double = {
    val r = recallAtK(approx, truth)
      .agg(avg(col("recall"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Recall of a candidate PAIR set (vec_a < vec_b, the
    * [[srpNearDupPairs]] / [[nearDupPairsSalted]] shape) against the
    * exact set of pairs with cosine ≥ `threshold`, computed brute
    * force. The ground-truth cross product is O(n²) — callers cap the
    * corpus (the probe measures on ≤ ~20k vectors and documents the
    * cap; the metric is a quality MEASUREMENT, not a scale path).
    */
  def pairRecall(found: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, threshold: Double): (Long, Long) = {
    val v = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val truth = v.select(col("vid").as("vec_a"), col("v").as("va"))
      .crossJoin(v.select(col("vid").as("vec_b"), col("v").as("vb")))
      .filter(col("vec_a") < col("vec_b") &&
        cosineNative(col("va"), col("vb")) >= lit(threshold))
      .select("vec_a", "vec_b")
    val nTruth = truth.count()
    val nHit = truth.join(found.select("vec_a", "vec_b"),
      Seq("vec_a", "vec_b"), "left_semi").count()
    (nHit, nTruth)
  }

  /** The (cell_id, centroid) rows of a k×dim centroid frame as local
    * values — the form [[nearestCellCol]] takes. This is a collect:
    * callers run it once, where they hold the frame, never while a
    * plan is being built (on a literal frame, such as each Lloyd pass's
    * result, it runs no Spark job).
    */
  def centroidValues(centroids: DataFrame): Seq[(Int, Seq[Double])] =
    centroids.select(col("cell_id").cast("int"),
        transform(col("centroid"), x => x.cast("double")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .toSeq

  /** The max-cosine cell id of `vec` as an IN-ROW codegen'd argmax
    * ([[graft.functions.NearestCentroidExpr]]) — centroids ride the
    * expression as a referenced constant (local k×dim values, see
    * [[centroidValues]]: Lloyd passes collect them by design, indexes
    * freeze them). This turned cell assignment from
    * crossJoin(broadcast) → groupBy(argmax) — a k× row multiplication
    * plus a corpus-wide shuffle, which every caller then JOINED back
    * onto the corpus (a second corpus-sized exchange) — into a narrow
    * projection with ZERO exchanges (guide §2.4). Bit-parity with the
    * aggregation form (same left-to-right double sums, same
    * SQLOrderingUtil total order, ties to the lower cell_id) is
    * spec-asserted (SemDedupSpec/OperatorSpec assignment equalities).
    */
  def nearestCellCol(centroids: Seq[(Int, Seq[Double])], vec: Column)
      : Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rows = centroids.sortBy(_._1)
    // degenerate inputs (empty corpus → zero kmeans seeds) get a clear
    // error instead of NearestCentroidExpr's generic require (ADVICE)
    require(rows.nonEmpty,
      "nearestCellCol: empty centroid set (empty corpus / zero " +
        "seeds?) — cell assignment is undefined without centroids")
    ColumnBridge.column(graft.functions.NearestCentroidExpr(
      ColumnBridge.expression(vec),
      rows.map(_._1).toSeq, rows.map(_._2).toSeq))
  }

  /** Blocked embedding near-duplicate pairs with bounded per-task
    * fan-out: same-`labelCol` pairs (a, b) with a < b and cosine ≥
    * `threshold`.
    *
    * A block of n vectors implies n² candidate pairs, and a plain
    * self-join on the block key pins an entire hot block's n² onto ONE
    * task — the 100 TB failure mode. Blocks are therefore split into
    * s = ceil(n / maxBlock) salt buckets: the left side keeps its
    * bucket, the right side replicates into every bucket, so each pair
    * still meets exactly once (in the left row's bucket) while per-task
    * candidate count drops from n² to n²/s. Results are EXACT — the
    * quadratic is parallelized, not sampled — at the cost of an s×
    * replication of the right side of oversized blocks only.
    */
  def nearDupPairsSalted(df: DataFrame, labelCol: String, idCol: String,
      vecCol: String, threshold: Double,
      maxBlock: Int = 4096): DataFrame = {
    val salts = df.groupBy(labelCol)
      .agg(ceil(count(lit(1)) / lit(maxBlock.toDouble)).cast("int")
        .as("__s"))
    val e = df.select(col(labelCol), col(idCol), col(vecCol).as("__v"))
      .withColumn("__norm", sqrt(dotNative(col("__v"), col("__v"))))
      .join(salts, labelCol)
    val a = e.select(col(labelCol), col(idCol).as("vec_a"),
      col("__v").as("__va"), col("__norm").as("__na"),
      pmod(hash(col(idCol)), col("__s")).as("__salt"))
    val b = e.select(col(labelCol), col(idCol).as("vec_b"),
      col("__v").as("__vb"), col("__norm").as("__nb"),
      explode(sequence(lit(0), col("__s") - 1)).as("__salt"))
    a.join(b, Seq(labelCol, "__salt"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dotNative(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= threshold)
      .select(col(labelCol), col("vec_a"), col("vec_b"))
  }

  /** SemDeDup (semantic deduplication — Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * inside each cluster drop every vector whose cosine to a LOWER-ID
    * vector of the same cluster is ≥ `threshold`. Keeping the lowest id
    * of each duplicate neighborhood is the deterministic stand-in for
    * the paper's arbitrary keep-one-per-group pick (same spirit as
    * [[graft.operators.MergeUpsert.dedupeByKey]]'s min-key survivor).
    * Output: (id, cell_id, keep) for every input vector.
    *
    * Scale shape: the pairwise quadratic runs WITHIN clusters only —
    * k bounds the expected block at |corpus|/k — and oversized clusters
    * are salt-split by [[nearDupPairsSalted]] so no single task owns a
    * hot cluster's n². The assignment is the in-row argmax
    * [[nearestCellCol]], a narrow projection that carries each vector
    * along, so the corpus reaches the pair join without a shuffle. The
    * dropped-id set (typically ≪ corpus) joins back broadcast-sized.
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double, dim: Int,
      maxBlock: Int = 4096,
      caches: graft.core.CacheHandle = graft.core.CacheHandle.session)
      : DataFrame = {
    val centroids = kmeansCentroids(vectors, idCol, vecCol, k, iters, dim)
    // in-row assignment (see [[nearestCellCol]]): one narrow projection
    // — the previous crossJoin(broadcast) → groupBy(argmax) multiplied
    // every vector k× and shuffled the corpus once before the pair join
    val cells = caches.track(vectors.select(col(idCol),
        nearestCellCol(centroidValues(centroids), col(vecCol))
          .as("cell_id"),
        col(vecCol))
      .persist())
    // one action consumes `cells` via two arms (pair join + the final
    // left join) — materialize before AQE stages race the cache
    graft.core.CacheHandle.eager(cells)
    val dropped = nearDupPairsSalted(cells, "cell_id", idCol, vecCol,
        threshold, maxBlock)
      .select(col("vec_b").as("__drop")).distinct()
    cells.join(dropped, cells(idCol) === col("__drop"), "left_outer")
      .select(cells(idCol), col("cell_id"), col("__drop").isNull.as("keep"))
  }

  /** Lloyd k-means centroids with deterministic seeding — the honest
    * IVF path for real corpora, which have no labels to seed cells from.
    *
    * Determinism (oracle + re-run reproducibility): seeds are the `k`
    * LOWEST-ID vectors (cell_id = their id-rank, 0-based), and the
    * iteration count is FIXED — no RNG, no convergence-dependent stop,
    * so any engine that runs the same `iters` gets the same centroids
    * up to floating-point accumulation order.
    *
    * Scale shape, per iteration:
    *  - assignment is the in-row argmax [[nearestCellCol]] over the
    *    local k centroids: one narrow corpus scan, no exchange;
    *  - the new means are `dim` independent `avg(element_at(vec, i))`
    *    aggregates — NO per-dimension explode (a |corpus|×dim row
    *    shuffle); partial aggregation reduces each partition to k×dim
    *    doubles before the exchange, so the shuffle carries
    *    O(partitions × k × dim) regardless of corpus size.
    * Cosine assignment is norm-invariant, so the plain mean behaves as
    * spherical k-means (normalizing the mean would not change any
    * assignment). A cell that loses all members drops out (callers see
    * < k cells — with min-id seeding this only happens on degenerate
    * inputs).
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int): DataFrame = {
    val seeds = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol))
      // the window runs over the k seed rows only, post-limit
      .withColumn("cell_id",
        row_number().over(Window.orderBy(col(idCol))) - 1)
      .select(col("cell_id"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
    val means = (1 to dim).map(i =>
      avg(element_at(col(vecCol), i).cast("double")).as(s"__m$i"))
    // each iteration COLLECTS its k x dim result and re-enters the next
    // iteration as a literal frame: centroids are a plan parameter
    // (like the IVF probe cell list), and left lazy the foldLeft nests
    // iteration i's corpus-scale assignment inside iteration i+1's
    // plan — every downstream action then re-runs ALL previous Lloyd
    // passes (measured: q72's 2-iteration chain re-computed pass 1
    // inside pass 2, inside the index write, inside the probe). With
    // the literal, each corpus pass executes exactly once and the plan
    // depth stays constant at any iteration count.
    (1 to iters).foldLeft(seeds) { (centroids, _) =>
      // in-row assignment (nearestCellCol): each pass is ONE narrow
      // corpus scan into the partially-aggregated mean update — the
      // previous form ran a crossJoin → corpus-wide argmax shuffle
      // and then JOINED the assignment back onto a second
      // corpus scan (two more exchanges) per iteration (guide §2.4)
      val next = vectors
        .select(nearestCellCol(centroidValues(centroids), col(vecCol))
          .as("cell_id"),
          col(vecCol))
        .groupBy("cell_id")
        .agg(means.head, means.tail: _*)
        .select(col("cell_id"),
          array((1 to dim).map(i => col(s"__m$i")): _*).as("centroid"))
      vectors.sparkSession.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
  }

  /** Materialize the IVF index: the corpus written PARTITIONED BY its
    * cell assignment. At 100 TB the cell is the parquet partition key —
    * a probe then reads nprobe/ncells of the data through partition
    * PRUNING (directories never opened), not a filter running over a
    * full scan.
    */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    // in-row assignment: the write is ONE narrow pass over the corpus —
    // the previous argmax aggregation + id equi-join shuffled the corpus
    // twice before any byte was written
    corpus
      .withColumn("cell_id",
        nearestCellCol(centroidValues(centroids), col(vecCol)))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)

  /** Nightly maintenance for a materialized IVF index: assign a NEW
    * batch of vectors to the index's FROZEN centroids and append them
    * into their cell partitions — the vector-store analog of
    * [[SignatureStore.appendBatch]]'s nightly fold. Searches over the
    * appended index see corpus ∪ batch with per-batch cost (one
    * broadcast-centroid assignment over the batch, one partitioned
    * write; the existing corpus is never read, moved, or re-encoded).
    *
    * Centroids MUST be the ones the index was built with: assignment
    * consistency is what makes probe pruning exact. Re-clustering
    * (centroid drift after many appends) is a NEW index version, not
    * an append — same discipline as the signature store's
    * once-per-corpus-version build. Cell files accumulate one per
    * append per touched cell; compaction is a rewrite of touched
    * partitions, and at production scale both the atomic-visibility
    * and compaction concerns drop into a lakehouse table format the
    * same way MergeUpsert's expressions drop into MERGE INTO.
    */
  def appendToIvfIndex(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, path: String): Unit =
    Commit.withWriterLock(batch.sparkSession, path) {
      // resolve INSIDE the writer lock: compaction flips the version
      // pointer under the same lock, so an append can never land its
      // cells in a root that was retired mid-write
      val dataRoot = currentIvfRoot(batch.sparkSession, path)
      batch.withColumn("cell_id",
          nearestCellCol(centroidValues(centroids), col(vecCol)))
        .write.partitionBy("cell_id").mode("append").parquet(dataRoot)
    }

  /** Resolve the index's CURRENT data root: the version directory the
    * `_CURRENT` pointer names, or the index path itself for an index
    * that has never been compacted (the layout [[writeIvfIndex]] and
    * plain appends produce). Every reader and writer of a maintained
    * index goes through this — it is what makes compaction's
    * copy-then-swing version flip atomic for readers: the pointer is
    * replaced by [[Commit.swing]], so once written it is never missing.
    */
  def currentIvfRoot(spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    import org.apache.hadoop.fs.Path
    Commit.read(Commit.fs(spark, path), new Path(path, "_CURRENT"))
      .map(_.trim).filter(_.nonEmpty)
      .fold(path)(v => new Path(path, v).toString)
  }

  /** Read a maintained IVF index at its current version — the reader
    * every search path uses ([[ivfTopKIndexed]], [[Pq.ivfTopK]]).
    * Partition pruning on `cell_id` works exactly as on a plain
    * partitioned read; the resolved snapshot's files are immutable
    * (compaction installs a NEW version and retires old ones only
    * after they are grand-previous), so a plan taken from this frame
    * stays valid across a concurrent compaction.
    */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.sources.Parquet.read(spark, currentIvfRoot(spark, path))

  /** Compact an IVF index's cell partitions: each touched cell (by
    * default every cell holding more than one data file — the residue
    * [[appendToIvfIndex]] leaves, one file per append per cell) is
    * re-read and rewritten as ceil(rows / targetRowsPerFile) packed
    * files, installed by one pointer swing under the index's writer
    * lock. Untouched cells are never read or written — cost scales
    * with the fragmented fraction, not the index.
    *
    * Search results are identical before and after (same rows, same
    * cells — spec-pinned); only scan parallelism changes: without
    * compaction a year of nightly appends makes every probed cell a
    * 365-file listing whose tiny files each cost a task.
    *
    * Visibility — copy-then-swing (lakehouse snapshot
    * semantics, no torn reads ever): the packed cells are written into
    * a NEW version directory (`_v<n>`, underscore-hidden from naive
    * listings), untouched cells are hard-linked (local FS; copied
    * elsewhere — [[Commit.linkOrCopy]]) into it, and ONE atomic
    * pointer replace of `_CURRENT` ([[Commit.swing]]) flips readers to
    * the new snapshot. Nothing a reader could have planned is renamed
    * or deleted: a query planning mid-compaction reads the previous
    * version whole; a query planned before the flip keeps its file
    * list valid because retired versions are deleted only when they
    * become GRAND-previous (the next compaction) — at any nightly
    * cadence that is hours of read grace. This is the
    * same install-aside-flip-pointer discipline as [[SegmentedTable]]'s
    * manifest commit and the reference's ES alias promote
    * (`data_refresh_task_factory.py:183-240`); on an object store the
    * hard-links become the table format's metadata-only OPTIMIZE.
    */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
      path: String, cells: Seq[String] = Seq.empty,
      targetRowsPerFile: Long = 500000L): Unit = {
    import org.apache.hadoop.fs.Path
    Commit.withWriterLock(spark, path) {
      val root = new Path(path)
      val fs = Commit.fs(spark, path)
      // a prior crashed PRE-VERSIONING compaction may have left a cell
      // stashed-but-not-reinstalled; heal before listing or the cell
      // is invisible
      recoverIvfCompaction(spark, path)
      val dataRoot = new Path(currentIvfRoot(spark, path))
      val curVersion = Commit.numberOf(dataRoot.getName, "_v").getOrElse(0L)
      val cellDirs = fs.listStatus(dataRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell_id="))
        .map(_.getPath)
      val fragNames = cellDirs
        .filter(p => cells.isEmpty || cells.contains(
          p.getName.stripPrefix("cell_id=")))
        .filter(p => fs.listStatus(p)
          .count(_.getPath.getName.endsWith(".parquet")) > 1)
        .map(_.getName.stripPrefix("cell_id="))
      if (fragNames.nonEmpty) {
        val newName = f"_v${curVersion + 1}%04d"
        val newDir = new Path(root, newName)
        // residue of a crashed build of THIS version: unreferenced by
        // _CURRENT (the flip is the last step), so no reader can have
        // planned it — safe to clear and rebuild
        fs.delete(newDir, true)
        // ONE pruned scan + ONE partitioned write for EVERY fragmented
        // cell, not a read-count-rewrite loop per cell: the loop
        // schedules 2 Spark jobs per cell and is pure job overhead at
        // real cell counts (measured 117s for 390 near-empty cells at
        // the 100x dir; a production index has 10^4+ cells). The
        // filter is a partition-column predicate, so only fragmented
        // directories are ever read — cost still scales with the
        // fragmented fraction, not the index.
        val frag = graft.sources.Parquet.read(spark, dataRoot.toString)
          .filter(col("cell_id").cast("string").isin(fragNames: _*))
        // rows per cell -> packed file count per cell (cells are a plan
        // parameter, ~sqrt(n); collecting one count per fragmented cell
        // is the same discipline as the probed-cell list)
        val nfDf = frag.groupBy(col("cell_id").cast("string")
            .as("__cell_str"))
          .agg(ceil(count(lit(1)).cast("double") / targetRowsPerFile)
            .cast("int").as("__nfiles"))
        val dataCols = frag.columns.filter(_ != "cell_id").map(col)
        val totalFiles = math.max(1,
          nfDf.agg(sum("__nfiles")).head().getLong(0).toInt)
        frag
          .withColumn("__cell_str", col("cell_id").cast("string"))
          .join(broadcast(nfDf), "__cell_str")
          // deterministic intra-cell bucket so an oversize cell still
          // packs to ceil(rows/target) files after the shuffle
          .withColumn("__bucket",
            pmod(xxhash64(dataCols: _*), col("__nfiles").cast("long")))
          .repartition(totalFiles, col("cell_id"), col("__bucket"))
          .drop("__cell_str", "__nfiles", "__bucket")
          .write.mode("overwrite").partitionBy("cell_id")
          .parquet(newDir.toString)
        // a fragmented cell whose files hold ZERO rows produces no
        // packed directory; everything else carries over untouched —
        // hard links on a local FS (metadata-only, so version install
        // stays O(files) in namespace ops, never O(bytes)), copy on
        // stores without links (where a lakehouse manifest would make
        // this step metadata-only instead)
        val fragSet = fragNames.toSet
        cellDirs.filterNot(p =>
            fragSet(p.getName.stripPrefix("cell_id=")))
          .foreach { src =>
            val dst = new Path(newDir, src.getName)
            fs.mkdirs(dst)
            fs.listStatus(src).toSeq.map(_.getPath)
              .filter(f => !f.getName.startsWith(".") &&
                !f.getName.startsWith("_"))
              .foreach(f =>
                Commit.linkOrCopy(fs, f, new Path(dst, f.getName)))
          }
        // THE single swing: flip the version pointer. Readers resolve
        // through currentIvfRoot, so the flip is the only visibility
        // event — before it they read the old snapshot whole, after it
        // the new one whole.
        Commit.swing(fs, new Path(root, "_CURRENT"), newName)
        // retire GRAND-previous layouts only: the version we just
        // replaced stays on disk so any reader that planned against it
        // (or is mid-scan) keeps a valid file list until the NEXT
        // compaction — the versioned twin of SegmentedTable.vacuum's
        // staged-segment grace
        fs.listStatus(root).toSeq
          .filter { s =>
            val n = s.getPath.getName
            s.isDirectory && (
              Commit.numberOf(n, "_v").exists(_ < curVersion) ||
              (curVersion >= 1 && n.startsWith("cell_id=")))
          }
          .foreach(s => fs.delete(s.getPath, true))
      }
    }
  }

  /** Heal compaction crash residue. For the PRE-VERSIONING rename-pair
    * layout: a `.compact-old-cell_id=c` stash with NO live `cell_id=c`
    * directory means the crash hit between retire and install — the
    * stash IS the cell's data, so rename it back; a stash alongside a
    * live directory means install succeeded and only the final cleanup
    * was lost — drop the stash. For the versioned layout the only
    * residue is an orphan pointer-tmp file (`._CURRENT.*.tmp`) — a
    * half-built version directory is unreferenced and is cleared by
    * the next compaction itself. Idempotent; call before any append or
    * compaction on an index a crashed process may have touched (the
    * streaming sink does, every fold).
    */
  def recoverIvfCompaction(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = Commit.fs(spark, path)
    if (!fs.exists(root)) return
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".compact-old-cell_id="))
      .foreach { stash =>
        val live = new Path(root,
          stash.getPath.getName.stripPrefix(".compact-old-"))
        if (fs.exists(live)) fs.delete(stash.getPath, true)
        else require(fs.rename(stash.getPath, live),
          s"recover: failed to restore ${stash.getPath}")
      }
    fs.delete(new Path(root, ".compact-tmp"), true)
    fs.listStatus(root).toSeq
      .filter(s => !s.isDirectory &&
        s.getPath.getName.startsWith("._CURRENT.") &&
        s.getPath.getName.endsWith(".tmp"))
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** [[appendToIvfIndex]] with exactly-once replay semantics for a
    * streaming sink: the batch stages into a hidden directory, its
    * files move into the cell partitions under names suffixed with
    * `tag`, and a `_batch_tags/<tag>` marker commits LAST. A replayed
    * batch whose marker exists returns false untouched; a replay after
    * a crash mid-move first scrubs the tag's partial files, so the
    * retry lands the batch exactly once. Returns true when the batch
    * was (re)applied.
    *
    * Taken under the index writer lock so appends serialize with
    * [[compactIvfCells]]. Marker files live under an underscore
    * directory (invisible to parquet scans) and survive compaction —
    * replay decisions never depend on the data files' names
    * outliving a rewrite.
    */
  def appendToIvfIndexTagged(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, path: String, tag: String)
      : Boolean = {
    import org.apache.hadoop.fs.Path
    require(tag.nonEmpty && !tag.contains("/"), s"bad tag: $tag")
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = Commit.fs(spark, path)
    val marker = new Path(root, s"_batch_tags/$tag")
    if (fs.exists(marker)) return false
    Commit.withWriterLock(spark, path) {
      // resolve the data root INSIDE the lock (see appendToIvfIndex);
      // batch markers stay at the INDEX root so replay decisions
      // survive version flips
      val dataRoot = new Path(currentIvfRoot(spark, path))
      // scrub residue from a crashed attempt of THIS batch
      if (fs.exists(dataRoot)) {
        fs.listStatus(dataRoot).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("cell_id="))
          .foreach { cd =>
            fs.listStatus(cd.getPath).toSeq
              .filter(_.getPath.getName.endsWith(s"-$tag.parquet"))
              .foreach(f => fs.delete(f.getPath, false))
          }
      }
      val staged = new Path(root, s".append-stage-$tag")
      fs.delete(staged, true)
      batch.withColumn("cell_id",
          nearestCellCol(centroidValues(centroids), col(vecCol)))
        .write.partitionBy("cell_id").parquet(staged.toString)
      fs.listStatus(staged).toSeq
        .filter(_.getPath.getName.startsWith("cell_id="))
        .foreach { cd =>
          val dest = new Path(dataRoot, cd.getPath.getName)
          fs.mkdirs(dest)
          fs.listStatus(cd.getPath).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).zipWithIndex
            .foreach { case (f, i) =>
              require(fs.rename(f, new Path(dest, s"part-$i-$tag.parquet")),
                s"append: failed to move $f")
            }
        }
      fs.delete(staged, true)
      Commit.create(fs, marker)
      true
    }
  }

  /** Probed top-nprobe cells per query vector (small aggregate over
    * query × broadcast centroids — never a window over a product).
    */
  def probeCells(queries: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame =
    queries.select(col(idCol).as("vec_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("sim", cosineNative(col("qv"), col("centroid")))
      .groupBy("vec_id")
      .agg(first(col("qv")).as("qv"),
        slice(array_sort(collect_list(
          struct((-col("sim")).as("ns"), col("cell_id")))), 1, nprobe)
          .as("top_cells"))
      .select(col("vec_id"), col("qv"),
        explode(col("top_cells").getField("cell_id")).as("cell_id"))

  /** The rows of a materialized IVF index's `cells` (a plan parameter,
    * ≤ queries × nprobe values): a partition-column predicate, so only
    * the probed directories are ever read.
    */
  private[operators] def readProbedCells(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cells: Seq[Any]): DataFrame =
    readIvfIndex(spark, indexPath).filter(col("cell_id").isin(cells: _*))

  /** The one IVF search: probe each query's `nprobe` nearest cells,
    * restrict the corpus to them — `cellsOf` maps the probed
    * (vec_id, qv, cell_id) rows to the (neighbor_id, cv, cell_id) corpus
    * rows of those cells — score by cosine and keep the top `k`.
    */
  private def ivfSearch(queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int)(
      cellsOf: DataFrame => DataFrame): DataFrame = {
    val probed = probeCells(queries, centroids, idCol, vecCol, nprobe)
    rankTopK(broadcast(probed).join(cellsOf(probed), Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .withColumn("cos", cosineNative(col("qv"), col("cv"))), "cos", k)
  }

  /** Search a materialized IVF index: the probed cell set statically
    * prunes the partitioned scan ([[readProbedCells]]). Results are
    * identical to [[ivfTopK]] over the same centroids.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    ivfSearch(queries, centroids, idCol, vecCol, k, nprobe) { probed =>
      val cellSet = probed.select("cell_id").distinct()
        .collect().map(_.get(0)).toSeq
      readProbedCells(spark, indexPath, cellSet)
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
          col("cell_id"))
    }

  /** Deterministic ±1 hyperplane components for signed-random-projection
    * LSH: component (p, d) is +1 iff md5("p,d")'s first hex digit is
    * even. Engine-independent and reproducible — the planes are derived,
    * not sampled, so an oracle (or a re-run over a grown corpus) buckets
    * identically.
    */
  def srpSigns(planes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dim).map { d =>
        md.reset()
        val h = md.digest(s"$p,$d".getBytes("UTF-8"))
        if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
      }
    }
  }

  /** SRP-LSH near-duplicate candidate pairs + exact cosine verify — the
    * UNSUPERVISED analog of [[nearDupPairsSalted]] (which needs a
    * blocking label) and the embedding twin of MinHash+LSH banding:
    * bit p of a vector's signature is sign(v · h_p) for the fixed ±1
    * hyperplanes h_p; two vectors are candidates iff ALL bits of at
    * least one band agree (collision probability (1 − θ/π)^rowsPerBand
    * per band — close vectors collide, the |corpus|² product never
    * materializes); candidates are then exactly verified against the
    * cosine threshold.
    *
    * Scale shape (this is the load-bearing part):
    *  - the banded frame carries IDS ONLY — (vid, band, band_bits) —
    *    so no vector payload ever crosses the band-join exchange
    *    (PlanSpec-guarded). The r7 form carried the full vector on both
    *    join sides and through the pair-dedup aggregation: corpus-scale
    *    payloads shuffled |candidates| times.
    *  - the frame is persisted: the self-join consumes it on both
    *    (differently-aliased) sides, and unpersisted the `planes` dot
    *    products per vector would compute twice. It is |corpus|×nBands
    *    rows of (long, int, short string) — negligible.
    *  - candidate pairs are dedup'd BEFORE any vector re-join; the
    *    exact verify then equi-joins the two vectors back per pair, so
    *    vector bytes move |distinct pairs| times, not |band collisions|.
    *  - signature width is the caller's recall/cost dial: use enough
    *    planes that a band's bit pattern has real entropy. 4-bit bands
    *    (16 values) collide ~6% of ALL pairs — a constant shaved off
    *    quadratic — and give the join a 64-value key space (guaranteed
    *    skew); 8-bit bands over 64 planes collide random pairs at
    *    ~0.4%/band with a per-band key space of 256 (nBands× that
    *    overall), which spreads across any shuffle width.
    * Output: (vec_a, vec_b) with vec_a < vec_b, ids only (fp-robust).
    */
  def srpNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      signs: Seq[Seq[Double]], rowsPerBand: Int, threshold: Double,
      caches: graft.core.CacheHandle = graft.core.CacheHandle.session)
      : DataFrame = {
    val nBands = signs.size / rowsPerBand
    // one fused loop expression, NOT a 64-arm concat(when(dot > 0)):
    // the concat form generated multi-second-to-compile Janino code
    // that the session codegen cache evicted between bench runs —
    // see SrpBitsExpr's scaladoc (sign parity is bit-identical for
    // NON-NULL vectors; a NULL vector now yields NULL bits and drops
    // out of banding entirely, where the old concat(when) form mapped
    // it to an all-'0' signature that bucketed with all-zero vectors
    // and could emit spurious candidates — the null-safe behavior is
    // the intended contract: null vectors have no direction to hash)
    val bits = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      ColumnBridge.column(graft.functions.SrpBitsExpr(
        ColumnBridge.expression(col(vecCol)), signs))
    }
    // eager: the banded self-join's two sides are concurrent AQE
    // stages that would race to compute the 64-plane projection twice
    // under a lazy persist (CacheHandle.eager)
    val sig = graft.core.CacheHandle.eager(caches.track(
      df.select(col(idCol).as("vid"), bits.as("bits"))
        .withColumn("band", explode(sequence(lit(0), lit(nBands - 1))))
        .select(col("vid"), col("band"),
          col("bits").substr(col("band") * rowsPerBand + 1,
            lit(rowsPerBand)).as("bb"))
        .persist()))
    val cand = sig.select(col("vid").as("vec_a"), col("band"), col("bb"))
      .join(sig.select(col("vid").as("vec_b"), col("band"), col("bb")),
        Seq("band", "bb"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val vecs = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("vid").as("vec_a"), col("v").as("va")), "vec_a")
      .join(vecs.select(col("vid").as("vec_b"), col("v").as("vb")), "vec_b")
      .filter(cosineNative(col("va"), col("vb")) >= lit(threshold))
      .select("vec_a", "vec_b")
  }

  /** IVF top-k: restrict the brute-force search to corpus vectors whose
    * cell is among the query's `nprobe` closest cells. Each corpus row's
    * cell is its in-row [[nearestCellCol]], as [[writeIvfIndex]] writes
    * it.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame =
    ivfSearch(queries, centroids, idCol, vecCol, k, nprobe) { _ =>
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        nearestCellCol(centroidValues(centroids), col(vecCol))
          .as("cell_id"))
    }
}
