package graft.tools

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge

import graft.{SparkEntry, Tables}
import graft.core.{CacheHandle, GraftSession, RunProfile, TempDirs}
import graft.functions.JsonEscapeExpr
import graft.operators.{Dedupe, Pq, Profile, SignatureStore, Similarity}
import graft.queries.DedupeQueries

/** Local measurement probes: one main for every hand-run diagnosis the
  * engine's rounds rely on (plan iteration, A/Bs of alternative
  * operator plans, store write volume, ANN recall). Not part of the
  * engine and never run by the bench or the verifier.
  *
  * usage: graft.tools.Probe <name> <sfDir> [args…]
  *
  * Each probe is a registry body over a session it does not own, so
  * specs can [[run]] one against the shared spec session; [[main]]
  * builds a [[GraftSession]] (`SPARK_GRAFT_CPUS`, default 32), runs,
  * and stops it.
  */
object Probe {

  type Body = (SparkSession, String, Seq[String]) => Unit

  /** name → (argument synopsis after `<sfDir>`, body) */
  val registry: Seq[(String, (String, Body))] = Seq(
    "query" -> ("<query> [query ...] [reps=2]", query _),
    "plan" -> ("<query> [substring] | <outDir> <suffix> <query> [query ...]",
      plan _),
    "contam" -> ("[runs=3] [fpp=0.001]", contam _),
    "profile" -> ("[reps=3]", profile _),
    "incremental" -> ("[denoms=2,8,32]", incremental _),
    "storewrite" -> ("[denom=32]", storeWrite _),
    "ivfmaint" -> ("[appends=8] [cells=auto]", ivfMaint _),
    "recall" -> ("[nQueries=100] [cells=auto] [pairCap=20000]", recall _),
    "srp" -> ("[pairCap=20000]", srpPlan _),
    "nightly" -> ("[reps=3]", nightlyPhases _),
    "semdedup" -> ("<k> [iters=2]", semDedup _))

  def usage: String = "usage: graft.tools.Probe <name> <sfDir> [args...]\n" +
    registry.map { case (n, (a, _)) => s"  $n <sfDir> $a" }.mkString("\n")

  /** Run the probe `args(0)` on `args(1)` with the remaining args. */
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val body = args.headOption.flatMap(n => registry.toMap.get(n))
    require(body.isDefined && args.length >= 2, usage)
    body.get._2(spark, args(1), args.drop(2))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.envCpus("32"))
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** `f`'s result and wall seconds. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Upper median (`sorted(n/2)`): of two runs, the worse one. */
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** (bytes, parquet part-files) under `dir`: manifests count in the
    * bytes, only data files in the file count.
    */
  private def dirSize(dir: java.io.File): (Long, Long) =
    if (dir.isDirectory)
      Option(dir.listFiles()).toSeq.flatten.map(dirSize)
        .foldLeft((0L, 0L)) { case ((b, f), (b1, f1)) => (b + b1, f + f1) }
    else if (!dir.exists()) (0L, 0L)
    else (dir.length(), if (dir.getName.endsWith(".parquet")) 1L else 0L)

  /** A JSON object whose fields keep their order. */
  private final case class Obj(fields: (String, Any)*)

  /** JSON text of a value: strings quoted, doubles to four significant
    * digits, sequences as arrays, [[Obj]]s as objects.
    */
  private def json(v: Any): String = v match {
    case Obj(fields @ _*) =>
      fields.map { case (k, x) => s"${json(k)}:${json(x)}" }
        .mkString("{", ",", "}")
    case s: String => "\"" + JsonEscapeExpr.escape(s) + "\""
    case d: Double => "%.4g".format(d)
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Print one `{"metric":<metric>,…}` line. */
  private def jsonLine(metric: String, fields: (String, Any)*): Unit =
    println(json(Obj(("metric" -> metric) +: fields: _*)))

  private def intArg(args: Seq[String], i: Int, default: Int): Int =
    args.lift(i).map(_.toInt).getOrElse(default)

  /** IVF cell count: the arg, else cells ∝ corpus (bounded expected cell
    * size ~512), floor 16 so IVF always prunes.
    */
  private def cellsArg(args: Seq[String], i: Int, n: Long): Int =
    args.lift(i).filter(_ != "auto").map(_.toInt)
      .getOrElse(math.max(16L, n / 512L).toInt)

  /** q59/q80's near-dup configuration: (shingle k, hashes, rows per
    * band, min Jaccard).
    */
  private val (shK, nHashes, rpb, minJ) = (3, 16, 4, 0.5)

  /** Run registered queries and print each one's wall time and row
    * count — with JOBPROFILE_DETAIL set, also its Spark job count, its
    * code-generation compiles (Janino compilations while the query is
    * built and run, driver and local executor alike), every job's wall time and
    * description and every stage's task metrics — so scheduling-floor
    * overhead (many small jobs) and codegen cost are distinguishable
    * from data-bound cost. The timed run builds the query and executes
    * its own plan (`queryExecution.toRdd.count()`), as Bench does: a
    * query may do much of its work while it is built, and a `count()`
    * lets the optimizer prune window outputs and whole exchanges. The row
    * count is the query's `count()`, taken after the timed run. With
    * several queries named they run interleaved: alternation cancels
    * slow machine drift that back-to-back blocks fold entirely into
    * one query.
    */
  private def query(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val reps = Try(args.last.toInt).toOption
    val queries = if (reps.isDefined) args.dropRight(1) else args
    require(queries.nonEmpty, usage)
    val detail = sys.env.get("JOBPROFILE_DETAIL").isDefined
    for (rep <- 1 to reps.getOrElse(2); q <- queries) {
      val fn = SparkEntry.queries(q)
      spark.catalog.clearCache()
      val ((df, dt), prof) = RunProfile(spark) {
        timed {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.count()
          df
        }
      }
      val rows = df.count()
      println(f"== $q rep $rep: rows=$rows wall=$dt%.3fs")
      if (detail) {
        println(s"  jobs=${prof.jobs} compiles=${prof.compiles}")
        prof.lines.foreach(l => println("  " + l))
      }
    }
  }

  /** Physical plans of registered queries, built but not executed
    * (queries whose construction has side effects — store builds —
    * still pay those).
    *  - `<query> [substring]`: print the query's physical plan, or only
    *    its lines containing `substring` plus their count;
    *  - `<outDir> <suffix> <query> [query ...]`: write each query's
    *    `explain("formatted")` text to `<outDir>/<query>_<suffix>.txt`,
    *    the before/after plan evidence an optimization round commits
    *    under plans/rNN/. The text is [[stablePlan]]'s, so two runs of
    *    one build write the same file.
    */
  private def plan(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = args match {
    case q +: rest if SparkEntry.queries.contains(q) && rest.size <= 1 =>
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      rest.headOption match {
        case Some(sub) =>
          val hits = p.split("\n").filter(_.toLowerCase.contains(sub.toLowerCase))
          println(s"lines matching '$sub': ${hits.length}")
          hits.take(40).foreach(println)
        case None => println(p)
      }
    case outDir +: suffix +: queries if queries.nonEmpty =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      queries.foreach { q =>
        spark.catalog.clearCache()
        CheckpointBridge.releaseAllPersisted(spark)
        val df = SparkEntry.queries(q)(spark, sfDir)
        // the string explain("formatted") prints, run counters masked
        val txt = stablePlan(df.queryExecution.explainString(
          ExplainMode.fromString("formatted")))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"), txt)
        println(s"wrote $outDir/${q}_$suffix.txt (${txt.length} chars)")
      }
    case _ => throw new IllegalArgumentException(usage)
  }

  /** `plan` text with the numbers that move with the JVM's run order
    * and with racing AQE stages — expression ids (`#N`), lambda
    * variable ids (`lambda x_N`), `plan_id=N`, `[codegen id : N]` and
    * query-stage ids (`Arguments: N`) — masked as `N`, so a plan diff
    * shows only what changed in the plan. So are the per-run object
    * identities: array constants (`[D@N`, a PQ lookup table), JVM
    * lambda classes (`$$Lambda@N`), [[graft.core.TempDirs]] slot
    * directories (`<slot>-pN-N`, an index path) and RDD ids and call
    * sites (`MapPartitionsRDD[N] at createDataFrame at Pq.scala:N`).
    */
  private def stablePlan(txt: String): String =
    txt.replaceAll("#\\d+", "#N")
      .replaceAll("(lambda [A-Za-z]+)_\\d+", "$1_N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : N]")
      .replaceAll("(?m)^Arguments: \\d+$", "Arguments: N")
      .replaceAll("\\[([A-Z])@[0-9a-f]+", "[$1@N")
      .replaceAll("Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+", "Lambda@N")
      .replaceAll("([A-Za-z0-9_]+)-p\\d+-\\d+", "$1-pN-N")
      .replaceAll("RDD\\[\\d+\\]( at \\w+ at [\\w.]+):\\d+", "RDD[N]$1:N")

  /** A/B probe for the decontamination plans: the fused Bloom-prefilter
    * form ([[Dedupe.contamination]], r13) against the exploded form
    * ([[Dedupe.contaminationExplode]]) on one scale directory. q66 was
    * the steepest 100×-scaling query in SCALING.md's r13 table (17.8×
    * wall for 100× rows — strictly linear in corpus tokens with no
    * collision bound to hide behind), so its constant factor IS its
    * scale story; this probe records the measured ratio the fused
    * expression buys at the prefilter false-positive rate `fpp`. Prints
    * one JSON line.
    */
  private def contam(spark: SparkSession, dir: String,
      args: Seq[String]): Unit = {
    val runs = intArg(args, 0, 3)
    val docs = Tables(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    def series(f: => Long): (Seq[Double], Long) = {
      timed(f) // warm-up
      val ts = (1 to runs).map(_ => timed(f))
      (ts.map(_._2), ts.head._1)
    }
    val fpp = args.lift(1).fold(0.001)(_.toDouble)
    val (fused, nF) = series(Dedupe.contamination(
      corpus, bench, "doc_id", "text", 5, 0.5,
      prefilterFpp = fpp).count())
    val (expl, nE) = series(Dedupe.contaminationExplode(
      corpus, bench, "doc_id", "text", 5, 0.5).count())
    require(nF == nE, s"plan mismatch: fused=$nF exploded=$nE")
    jsonLine("contam_probe", "fused_sec" -> median(fused),
      "exploded_sec" -> median(expl),
      "speedup" -> median(expl) / median(fused), "rows" -> nF,
      "fused_runs" -> fused, "exploded_runs" -> expl, "dir" -> dir)
  }

  /** A/B probe for the q90 profile operator (r17 judge directive #7):
    * exact single-scan Expand distinct-aggregate ([[Profile.table]]) vs
    * the KMV-sketch swap ([[Profile.tableApprox]]) documented as the
    * 100 TB alternative. Times both over the same columns with the
    * noop-style toRdd materialization the bench uses, and prints the
    * estimates next to the exact counts so the accuracy trade is
    * visible in the same artifact.
    */
  private def profile(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val reps = intArg(args, 0, 3)
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    def orders = Tables(spark, sfDir, "orders")
    def time(label: String, f: => DataFrame): Unit =
      (1 to reps).foreach { i =>
        spark.catalog.clearCache()
        val (_, dt) = timed(f.queryExecution.toRdd.count())
        println(f"$label run$i $dt%.3f s")
      }
    // warm-up (codegen, parquet footers)
    orders.count()
    time("exact_expand   ", Profile.table(orders, cols))
    time("kmv_k1024      ", Profile.tableApprox(orders, cols, 1024))
    time("kmv_k4096      ", Profile.tableApprox(orders, cols, 4096))
    println("— accuracy (exact vs kmv_k1024 n_distinct) —")
    val exact = Profile.table(orders, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    Profile.tableApprox(orders, cols, 1024).collect().foreach { r =>
      val (c, est) = (r.getString(0), r.getLong(3))
      val ex = exact(c)
      println(f"$c%-16s exact=$ex%8d kmv=$est%8d err=${
        if (ex == 0) 0.0 else 100.0 * (est - ex).abs / ex}%.2f%%")
    }
  }

  /** Batch-fraction sweep for the incremental clustering pipeline: for
    * each fraction 1/d, build the corpus store over (1-1/d) of
    * `documents` (UNTIMED — that is the amortized corpus-version cost),
    * then time the NIGHTLY path (sign only the batch, candidates vs
    * persisted signatures, verify, label contraction) against the
    * from-scratch clustering of the full table. Prints one JSON line.
    *
    * Motivation (r13): q79's bench split is batch = 50% of the corpus —
    * deliberately adversarial, but it makes incremental ≈ from-scratch at
    * large SF because exact-verify work (shared by both paths) dominates
    * over the signing the store avoids. A real nightly batch is a few
    * percent of the corpus; this probe measures how the incremental win
    * scales with corpus/batch, which SCALING.md cites.
    */
  private def incremental(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val denoms = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(2, 8, 32))
    def timeIt[A](f: => A): Double = {
      // cache hygiene: without this, run N's eager persists are logical-
      // plan-identical to run N-1's and the cache manager serves them,
      // silently turning repeated timings into cache reads (the same
      // clearCache the bench harness does between runs)
      spark.catalog.clearCache()
      timed(f)._2
    }
    val docs = Tables(spark, sfDir, "documents")
    // from-scratch baseline (q59's plan), median of 3
    def scratch(): Double = timeIt {
      DedupeQueries.nearDupLabels(docs)
        .queryExecution.toRdd.count() // full materialization (no count-pruning)
    }
    scratch() // warm-up
    val base = median((1 to 3).map(_ => scratch()))
    // the nightly path against a scratch store over `corpus`, median of 3
    def nightlyOver(corpus: DataFrame, batch: DataFrame, tag: String): Double = {
      val store = java.nio.file.Files
        .createTempDirectory(s"graft_incprobe_$tag").toString
      try {
        val (bands, labels) = SignatureStore.ensureCorpusState(spark, store,
          corpus, "doc_id", "text", shK, nHashes, rpb, minJ) // untimed build
        def night(): Double = timeIt {
          Dedupe.incrementalFromStore(bands, labels, batch, docs,
            "doc_id", "text", shK, nHashes, rpb, minJ)
            .queryExecution.toRdd.count() // full materialization
        }
        night() // warm-up
        median((1 to 3).map(_ => night()))
      } finally TempDirs.deleteRecursively(store)
    }
    val results = denoms.map { d =>
      val t = nightlyOver(docs.filter(col("doc_id") % d =!= (d - 1)),
        docs.filter(col("doc_id") % d === (d - 1)), d.toString)
      s"1/$d" -> Obj("nightly_sec" -> t, "vs_scratch" -> t / base)
    }
    // empty-batch floor: the nightly cost that does not shrink with the
    // batch — store scans, label rewrite, full-label output, fixed
    // per-job overheads
    val floorT = nightlyOver(docs, docs.filter(lit(false)), "floor")
    jsonLine("incremental_probe", Seq("scratch_sec" -> base) ++ results ++
      Seq("empty_batch_floor_sec" -> floorT, "sf" -> sfDir): _*)
  }

  /** Write-volume evidence for the signature store's nightly commit
    * (r14 judge directive: prove appendBatch writes O(batch), and
    * confirm the band-file sizing trade at scale). Builds the corpus
    * store over (1 - 1/denom) of `documents`, then runs one nightly
    * pass (detection + appendBatch) over the remaining 1/denom batch,
    * and reports — from the filesystem, not the code's claims —
    * store bytes/files after the build vs bytes/files ADDED by the
    * night. A healthy delta layout has night_bytes tracking the batch
    * fraction (plus the labels snapshot, which is O(corpus ids) by
    * design) while corpus segments stay untouched.
    */
  private def storeWrite(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val denom = intArg(args, 0, 32)
    val docs = Tables(spark, sfDir, "documents")
    val corpus = docs.filter(col("doc_id") % denom =!= (denom - 1))
    val batch = docs.filter(col("doc_id") % denom === (denom - 1))
    val store = java.nio.file.Files
      .createTempDirectory(s"graft_storewrite_$denom").toString
    def walk(sub: String): (Long, Long) = dirSize(new java.io.File(store, sub))
    val (_, buildSec) = timed {
      SignatureStore.ensureCorpusState(spark, store, corpus,
        "doc_id", "text", shK, nHashes, rpb, minJ)
    }
    val (sigB0, sigF0) = walk("sigs")
    val (bandB0, bandF0) = walk("bands")
    val (labB0, _) = walk("labels")
    val corpusRows = corpus.count()
    val batchRows = batch.count()
    val (_, nightSec) = timed {
      spark.catalog.clearCache()
      val bands = SignatureStore.readBands(spark, store)
      val (_, labels) = SignatureStore.read(spark, store)
      val (merged, delta) = Dedupe.incrementalFromStoreWithDelta(
        bands, labels, batch, docs, "doc_id", "text", shK, nHashes, rpb, minJ)
      SignatureStore.appendBatch(spark, store,
        Dedupe.minhashWide(batch, "doc_id", "text", shK, nHashes,
          withCount = true), merged, nHashes, rpb, labelDelta = Some(delta))
    }
    val (sigB1, sigF1) = walk("sigs")
    val (bandB1, bandF1) = walk("bands")
    val (labB1, _) = walk("labels")
    // night_label_bytes is the override DELTA segment (changed rows
    // only) plus its bytes-sized manifest — O(changed), not the
    // pre-r15 O(corpus) snapshot rewrite
    try {
      jsonLine("store_write", "sf" -> sfDir, "denom" -> denom,
        "corpus_rows" -> corpusRows, "batch_rows" -> batchRows,
        "build_sec" -> buildSec, "corpus_sig_bytes" -> sigB0,
        "corpus_band_bytes" -> bandB0, "corpus_sig_files" -> sigF0,
        "corpus_band_files" -> bandF0, "night_sec" -> nightSec,
        "night_sig_bytes" -> (sigB1 - sigB0),
        "night_band_bytes" -> (bandB1 - bandB0),
        "night_label_bytes" -> (labB1 - labB0),
        "night_sig_files" -> (sigF1 - sigF0),
        "night_band_files" -> (bandF1 - bandF0),
        "night_over_corpus_bytes" ->
          (sigB1 - sigB0 + bandB1 - bandB0).toDouble / (sigB0 + bandB0),
        "batch_fraction" -> batchRows.toDouble / (corpusRows + batchRows))
    } finally TempDirs.deleteRecursively(store)
  }

  /** Nightly-maintenance cycle probe for the materialized IVF index:
    * build → N appends (fragmenting every touched cell) → search the
    * fragmented index → compact ([[Similarity.compactIvfCells]]) →
    * search the compacted index. Measures what compaction buys (probe
    * wall time vs fragment count) and what it costs, and asserts the
    * two searches agree — the same invariant PqSpec pins at spec scale.
    */
  private def ivfMaint(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val nAppends = intArg(args, 0, 8)
    val emb = Tables(spark, sfDir, "embeddings").persist()
    val n = emb.count()
    val cells = cellsArg(args, 1, n)
    val path = s"${sys.props("java.io.tmpdir")}/graft_ivf_maint_" +
      spark.sparkContext.applicationId
    try {
      val centroids = Similarity.kmeansCentroids(emb, "vec_id",
        "embedding", cells, iters = 2, dim = 64)
      // corpus minus the nightly slices; each slice appends separately
      val base = emb.filter(col("vec_id") % (nAppends + 1) === 0)
      val (_, buildSec) = timed {
        Similarity.writeIvfIndex(base, centroids, "vec_id", "embedding",
          path)
      }
      val appendSecs = (1 to nAppends).map { i =>
        timed {
          Similarity.appendToIvfIndex(
            emb.filter(col("vec_id") % (nAppends + 1) === i),
            centroids, "vec_id", "embedding", path)
        }._2
      }
      // count the CURRENT version's files (compaction installs a new
      // version behind a pointer flip; the previous version lingers
      // as read grace and would double the naive count)
      def files(): Long =
        dirSize(new java.io.File(Similarity.currentIvfRoot(spark, path)))._2
      val queries = emb.filter(col("vec_id") < 100)
      def search(): Set[(Long, Long)] = Similarity.ivfTopKIndexed(spark,
          path, queries, centroids, "vec_id", "embedding", 10,
          nprobe = 8)
        .select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      search() // codegen warm-up
      val filesFrag = files()
      val (fragResult, fragSec) = timed(search())
      val (_, compactSec) = timed(Similarity.compactIvfCells(spark, path))
      val filesCompact = files()
      val (compactResult, compactSearchSec) = timed(search())
      jsonLine("ivf_maint", "sf" -> sfDir, "n" -> n, "cells" -> cells,
        "appends" -> nAppends, "build_sec" -> buildSec,
        "append_sec_each" -> appendSecs, "files_fragmented" -> filesFrag,
        "files_compacted" -> filesCompact, "search_frag_sec" -> fragSec,
        "compact_sec" -> compactSec, "search_compact_sec" -> compactSearchSec,
        "results_identical" -> (fragResult == compactResult))
    } finally TempDirs.deleteRecursively(path)
  }

  /** ANN answer-quality probe: recall@10 against exact brute-force
    * ground truth, with wall seconds, for every approximate search
    * surface the engine ships —
    *
    *  - IVF (learned k-means centroids) across an nprobe sweep: the
    *    recall-vs-cost dial a serving deployment actually turns;
    *  - PQ asymmetric-distance (ADC) search, and the two-stage
    *    ADC-shortlist → exact-rerank path (rerank can only fix ordering
    *    WITHIN the shortlist, so its recall bounds tell you the
    *    shortlist size is/isn't the binding constraint);
    *  - SRP-LSH near-dup pair recall vs the exact pair set at the same
    *    cosine threshold (a PAIR metric, not top-k — reported as
    *    hit/truth counts).
    *
    * Determinism note: every searcher here is deterministic (min-id
    * k-means seeding, fixed Lloyd iterations, md5 hyperplanes), so the
    * recall numbers are exactly reproducible for a given dir — the
    * oracle suite proves the answers are STABLE; this probe measures
    * whether they are GOOD.
    *
    * The ground-truth cross products are O(|queries|·n) for top-k and
    * O(n²) for pairs: a measurement harness, not a scale path — the
    * pair corpus is capped (default 20k vectors) and the cap is printed.
    * Prints one JSON line: per-variant {recall, sec} + config.
    */
  private def recall(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val nQueries = intArg(args, 0, 100)
    val emb = Tables(spark, sfDir, "embeddings").persist()
    val n = emb.count()
    val cells = cellsArg(args, 1, n)
    val pairCap = args.lift(2).map(_.toLong).getOrElse(20000L)
    val k = 10
    val queries = emb.filter(col("vec_id") < nQueries)
    // Frames every variant depends on (corpus, ground truth, code
    // tables): after the level-playing-field clearCache they are
    // re-persisted AND materialized BEFORE the clock starts, so each
    // timed section measures ONLY its own search. (The r14 probe
    // cleared globally and re-warmed only emb — every variant's "sec"
    // silently included a brute-force ground-truth recompute, visible
    // as inverted orderings like nprobe=16 "faster" than nprobe=8.)
    val warm = scala.collection.mutable.ArrayBuffer(emb)
    def timeIt[A](f: => A): (A, Double) = {
      spark.catalog.clearCache()
      warm.foreach { d => d.persist(); d.count() }
      timed(f)
    }
    def hit(r: Double, sec: Double) = Obj("recall" -> r, "sec" -> sec)
    // exact ground truth (also times the brute-force baseline — the
    // "cost of recall 1.0" every approximate line is compared against)
    val (truth, bruteSec) = timeIt {
      val t = Similarity.bruteForceTopK(queries, emb, "vec_id",
        "embedding", k).persist()
      t.count(); t
    }
    warm += truth
    val out = scala.collection.mutable.ArrayBuffer[(String, Any)]()
    out += "brute" -> hit(1.0, bruteSec)
    // IVF nprobe sweep over learned centroids (centroid training timed
    // separately — it is a once-per-corpus-version cost, like the store)
    val (centroids, trainSec) = timeIt {
      Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        cells, iters = 2, dim = 64)
    }
    out += "ivf_train" -> Obj("cells" -> cells, "sec" -> trainSec)
    Seq(1, 2, 4, 8, 16).foreach { nprobe =>
      val (r, sec) = timeIt {
        val a = Similarity.ivfTopK(queries, emb, centroids, "vec_id",
          "embedding", k, nprobe)
        Similarity.meanRecallAtK(a, truth)
      }
      out += s"ivf_nprobe$nprobe" -> hit(r, sec)
    }
    // PQ: the q81/q83 configuration (M=8, K=16, 1 Lloyd pass)
    val (cb, pqTrainSec) = timeIt {
      Pq.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1,
        dim = 64)
    }
    val codes = Pq.encode(emb, "vec_id", "embedding", cb).persist()
    codes.count()
    warm += codes
    out += "pq_train" -> Obj("sec" -> pqTrainSec)
    val (adcR, adcSec) = timeIt {
      Similarity.meanRecallAtK(
        Pq.topK(queries, codes, cb, "vec_id", "embedding", k), truth)
    }
    out += "pq_adc" -> hit(adcR, adcSec)
    Seq(50, 200, 1000).foreach { shortlist =>
      val (rerR, rerSec) = timeIt {
        Similarity.meanRecallAtK(
          Pq.topKReranked(queries, codes, emb, cb, "vec_id",
            "embedding", k, shortlist), truth)
      }
      out += s"pq_rerank$shortlist" -> hit(rerR, rerSec)
    }
    // a stronger codebook (K=64 codewords/subspace, 3 Lloyd passes):
    // shows recall is a CONFIG dial of the same operator, not a ceiling
    // of the implementation — 4x the code bits, same search plan
    val (cb64, pq64TrainSec) = timeIt {
      Pq.train(emb, "vec_id", "embedding", m = 8, k = 64, iters = 3,
        dim = 64)
    }
    val codes64 = Pq.encode(emb, "vec_id", "embedding", cb64).persist()
    codes64.count()
    warm += codes64
    out += "pq64_train" -> Obj("sec" -> pq64TrainSec)
    val (adc64R, adc64Sec) = timeIt {
      Similarity.meanRecallAtK(
        Pq.topK(queries, codes64, cb64, "vec_id", "embedding", k), truth)
    }
    out += "pq64_adc" -> hit(adc64R, adc64Sec)
    val (rer64R, rer64Sec) = timeIt {
      Similarity.meanRecallAtK(
        Pq.topKReranked(queries, codes64, emb, cb64, "vec_id",
          "embedding", k, 200), truth)
    }
    out += "pq64_rerank200" -> hit(rer64R, rer64Sec)
    // the composed SERVING path: IVF-PQ index (cell-partitioned code
    // table, K=64 codebook) → probe-pruned ADC shortlist(200) → exact
    // rerank of shortlisted raw vectors. This is the configuration a
    // deployment runs — recall bounded by min(IVF cell coverage, PQ
    // shortlist quality), cost bounded by probed cells only.
    val ivfpqPath = s"${sys.props("java.io.tmpdir")}/graft_recall_ivfpq_" +
      spark.sparkContext.applicationId
    val (_, ivfpqIdxSec) = timeIt {
      Pq.writeIvfIndex(emb, centroids, "vec_id", "embedding", cb64,
        ivfpqPath)
    }
    out += "ivfpq_index" -> Obj("sec" -> ivfpqIdxSec)
    // the serving dial: recall rises with nprobe (cell coverage) and
    // shortlist (what the exact re-rank can fix) — sweep both so the
    // curve names the cheapest config clearing any given floor
    Seq((8, 200), (16, 200), (16, 500), (24, 1000)).foreach {
      case (nprobe, shortlist) =>
        val (r, sec) = timeIt {
          Similarity.meanRecallAtK(
            Pq.ivfTopKReranked(spark, ivfpqPath, queries, centroids,
              emb, cb64, "vec_id", "embedding", k, nprobe, shortlist),
            truth)
        }
        out += s"ivfpq_nprobe${nprobe}_rerank$shortlist" -> hit(r, sec)
    }
    // SRP-LSH pair recall on the (capped) corpus, across the banding
    // dial: rowsPerBand=8 (q62's config — few, high-precision bands)
    // vs 4 (16 looser bands: per-band collision prob rises from
    // p^8 to p^4, recall for threshold-grade pairs jumps accordingly,
    // candidate volume is the price)
    val srpCorpus = emb.filter(col("vec_id") < pairCap).persist()
    val srpN = srpCorpus.count()
    warm += srpCorpus
    Seq(8, 4).foreach { rowsPerBand =>
      val (found, srpSec) = timeIt {
        val f = Similarity.srpNearDupPairs(srpCorpus, "vec_id",
          "embedding", Similarity.srpSigns(64, 64),
          rowsPerBand = rowsPerBand, threshold = 0.35).persist()
        f.count(); f
      }
      val (hits, tot) = Similarity.pairRecall(found, srpCorpus, "vec_id",
        "embedding", 0.35)
      val srpRecall = if (tot == 0) 1.0 else hits.toDouble / tot
      out += s"srp_pairs_rpb$rowsPerBand" -> Obj("recall" -> srpRecall,
        "hit" -> hits, "truth" -> tot, "corpus" -> srpN, "sec" -> srpSec)
    }
    jsonLine("recall", Seq("sf" -> sfDir, "n" -> n, "queries" -> nQueries,
      "k" -> k) ++ out: _*)
    // the on-disk IVF-PQ index is probe scratch — reclaim it (multi-GB
    // /tmp residue per run at larger dirs otherwise)
    TempDirs.deleteRecursively(ivfpqPath)
  }

  /** Diagnoses the SRP pair-generation plan on a given dir: prints the
    * formatted physical plan and the timed wall for the found-pair pass
    * at rowsPerBand=4. Motivated by an r14 probe observation: the SAME
    * 20k-vector corpus ran 52s when filtered out of the sf10 table but
    * 294-378s when read as the whole sf1 table — a plan-shape, not a
    * data, difference.
    */
  private def srpPlan(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val cap = args.lift(0).map(_.toLong).getOrElse(20000L)
    val corpus = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < cap)
    val found = Similarity.srpNearDupPairs(corpus, "vec_id", "embedding",
      Similarity.srpSigns(64, 64), rowsPerBand = 4, threshold = 0.35)
    val (n, sec) = timed(found.count())
    println(found.queryExecution.explainString(
      ExplainMode.fromString("formatted")))
    jsonLine("srp_plan", "sf" -> sfDir, "pairs" -> n, "sec" -> sec)
  }

  /** Phase-level timing of q80's exact body (build → night1 → night2 →
    * final read), with night sub-phases (sign, candidates+merge,
    * commit) and the Spark jobs each night starts, to locate the
    * nightly fixed overhead SCALING.md tracks.
    */
  private def nightlyPhases(spark: SparkSession, sfDir: String,
      args: Seq[String]): Unit = {
    val reps = intArg(args, 0, 3)
    def t(f: => Unit): Double = timed(f)._2
    (1 to reps).foreach { rep =>
      spark.catalog.clearCache()
      CheckpointBridge.releaseAllPersisted(spark)
      val docs = Tables(spark, sfDir, "documents")
      val store = java.nio.file.Files
        .createTempDirectory("graft_phase_q80").toString
      new java.io.File(store).delete()
      val build = t { SignatureStore.ensureCorpusState(spark, store,
        docs.filter(col("doc_id") % 4 < 2), "doc_id", "text",
        shK, nHashes, rpb, minJ) }
      val nights = Seq(2, 3).map { m =>
        val batch = docs.filter(col("doc_id") % 4 === m)
        var tSign = 0.0; var tCand = 0.0; var tCommit = 0.0
        val (total, prof) = RunProfile(spark)(t {
          val (bands, labels) = (SignatureStore.readBands(spark, store),
            SignatureStore.readLabels(spark, store))
          val sig = Dedupe.minhashWide(batch, "doc_id", "text", shK,
            nHashes, withCount = true).persist()
          var sigRows = 0L
          tSign = t { sigRows = CacheHandle.fill(sig) }
          var md: (DataFrame, DataFrame) = null
          tCand = t { md = Dedupe.incrementalFromStoreWithDelta(
            bands, labels, batch, docs, "doc_id", "text", shK, nHashes,
            rpb, minJ, preSigned = Some(sig)) }
          tCommit = t { SignatureStore.appendBatch(spark, store, sig,
            md._1, nHashes, rpb, labelDelta = Some(md._2),
            batchSigRows = Some(sigRows)) }
          sig.unpersist()
        })
        (total, tSign, tCand, tCommit, prof.jobs)
      }
      var readSec = 0.0
      val outSec = t {
        val (_, labelsFinal) = SignatureStore.read(spark, store)
        readSec = t { labelsFinal.count() }
        DedupeQueries.withClusterSizes(labelsFinal)
          .queryExecution.toRdd.count()
      }
      def f(d: Double) = f"$d%.2f"
      println(s"rep=$rep build=${f(build)} " +
        nights.zipWithIndex.map { case ((tot, s, c, w, jobs), i) =>
          s"night${i + 1}[total=${f(tot)} sign=${f(s)} cand=${f(c)} " +
            s"commit=${f(w)} jobs=$jobs]"
        }.mkString(" ") +
        s" out=${f(outSec)} (labelread=${f(readSec)})")
      TempDirs.deleteRecursively(store)
    }
}

  /** Scale probe: semDedup wall time as the cluster count scales with
    * the corpus (the at-scale configuration) vs the fixed oracle k.
    */
  private def semDedup(spark: SparkSession, dir: String,
      args: Seq[String]): Unit = {
    require(args.nonEmpty, usage)
    val k = args.head.toInt
    val iters = intArg(args, 1, 2)
    val (n, sec) = timed(Similarity.semDedup(
      Tables(spark, dir, "embeddings"), "vec_id", "embedding",
      k = k, iters = iters, threshold = 0.35, dim = 64, maxBlock = 256)
      .queryExecution.toRdd.count())
    println(f"semDedup k=$k iters=$iters: $n rows in $sec%.2f s")
  }
}
