package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Derives an N×-scaled copy of a testdata directory (default 10×:
  * sf0.1 → "sf1") so the scaling claims in SCALING.md get an empirical
  * 10× point instead of extrapolation. TPC-H-style scaling: dimension
  * constants (region, nation) stay fixed; every other table replicates
  * N× with per-replica key offsets that preserve referential integrity
  * (replica r of orders references replica r of customer, etc.), so
  * join fan-outs and per-key cardinalities match a genuinely larger
  * generated dataset.
  *
  * Two replications are deliberately NOT verbatim, because verbatim
  * copies would make the scaled workload superlinear in exactly the
  * operators the scale-up is meant to measure:
  *  - `documents.text`: replica r>0 suffixes every whitespace token
  *    with `~r`. Within a replica, pairwise token/shingle equality —
  *    and therefore the planted near-dup topology — is IDENTICAL to
  *    the original; across replicas shingle sets are disjoint. Without
  *    this, every doc gains N-1 exact twins and LSH candidate pairs
  *    grow ~N² per group instead of N.
  *  - `embeddings.embedding`: replica r>0 multiplies dimension j by a
  *    hash-derived sign s(j,r) ∈ {-1,+1}. A fixed diagonal ±1 matrix is
  *    orthogonal: dot(Dx, Dy) = dot(x, y), so within-replica cosine
  *    structure (and thus ANN/IVF/SRP-LSH work per replica) is EXACTLY
  *    the original's, while cross-replica similarities collapse to
  *    ~random. Replica 0 is always the identity copy.
  *
  * Everything is deterministic — no RNG, no timestamps — so two runs
  * produce byte-identical tables.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.core.GraftSession(graft.core.GraftSession.envCpus("32"))
    scale(spark, src, dst, factor)
    spark.stop()
  }

  def scale(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    // file count scales with the factor (min the base count): a 100×
    // table written as ONE file is ONE row group is ONE task for every
    // scan — at sf10 that capped each corpus pass at the file's 4 row
    // groups on a 32-core box and silently floored the measured
    // parallelism (the SignatureStore lesson, applied to the generator).
    // Real corpora arrive in many files; the scaled ones should too.
    def scaled(base: Int): Int = base * math.max(1, factor / 10)
    def save(name: String, df: DataFrame, parts: Int = 1): Unit =
      df.repartition(scaled(parts)).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // dimension constants: fixed regardless of scale, as in TPC-H
    for (t <- Seq("region", "nation")) save(t, Tables(spark, src, t))

    // key SPANS (max+1) = per-replica offsets (collect()ed plan
    // parameters). A span, not the max: keys are 0-based, so offsetting
    // by max alone would alias replica r's key 0 onto replica r-1's max
    // key — one duplicate id per table per replica boundary, fanning
    // out boundary joins 2× and merging two docs' texts in groupBys.
    def spanOf(name: String, key: String): Long =
      Tables(spark, src, name)
        .agg(max(col(key).cast("long"))).head.getLong(0) + 1L
    val (custSpan, suppSpan, partSpan) =
      (spanOf("customer", "c_custkey"), spanOf("supplier", "s_suppkey"),
        spanOf("part", "p_partkey"))
    val orderSpan = spanOf("orders", "o_orderkey")
    val (eventSpan, userSpan) =
      (spanOf("events", "event_id"), spanOf("events", "user_id"))
    val (docSpan, vecSpan) =
      (spanOf("documents", "doc_id"), spanOf("embeddings", "vec_id"))

    /** N× the rows via one in-partition explode (no shuffle); `f` gets
      * the frame plus the replica-id column r ∈ [0, factor).
      */
    def replicate(name: String, parts: Int = 1)
        (f: (DataFrame, Column) => DataFrame): Unit = {
      val reps = Tables(spark, src, name)
        .withColumn("__r", explode(lit((0 until factor).toArray)))
      save(name, f(reps, col("__r").cast("long")).drop("__r"), parts)
    }
    // only-for-replicas rename keeps replica 0 byte-identical to source
    def tagged(c: Column, r: Column): Column =
      when(r === 0, c).otherwise(concat(c, lit("~"), r))

    replicate("customer") { (df, r) => df
      .withColumn("c_custkey", col("c_custkey") + r * custSpan)
      .withColumn("c_name", tagged(col("c_name"), r)) }
    replicate("supplier") { (df, r) => df
      .withColumn("s_suppkey", col("s_suppkey") + r * suppSpan)
      .withColumn("s_name", tagged(col("s_name"), r)) }
    replicate("part") { (df, r) => df
      .withColumn("p_partkey", col("p_partkey") + r * partSpan)
      .withColumn("p_name", tagged(col("p_name"), r)) }
    replicate("orders", parts = 4) { (df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + r * orderSpan)
      .withColumn("o_custkey", col("o_custkey") + r * custSpan) }
    replicate("lineitem", parts = 8) { (df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + r * orderSpan)
      .withColumn("l_partkey", col("l_partkey") + r * partSpan)
      .withColumn("l_suppkey", col("l_suppkey") + r * suppSpan) }
    // per-user event sequences replicate under fresh user_ids, so
    // session shapes and per-key window work stay exactly linear
    replicate("events", parts = 4) { (df, r) => df
      .withColumn("event_id", col("event_id") + r * eventSpan)
      .withColumn("user_id", col("user_id") + r * userSpan) }
    replicate("documents", parts = 4) { (df, r) => df
      .withColumn("doc_id", col("doc_id") + r * docSpan)
      .withColumn("text", when(r === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(w, lit("~"), r)))))
      .withColumn("n_chars", when(r === 0, col("n_chars"))
        .otherwise(length(col("text")).cast("long"))) }
    // label is a blocking key (q44 salted near-dup): keeping it fixed
    // would grow every block N× and the within-block pair count N² —
    // measured 10.7× q44 wall at 10× data. Real corpora grow block-key
    // cardinality with volume, so replicas get disjoint label ranges
    // (cross-replica vectors are decorrelated by the sign flip anyway).
    val labelSpan = lit(spanOf("embeddings", "label"))
    replicate("embeddings") { (df, r) => df
      .withColumn("vec_id", col("vec_id") + r * vecSpan)
      .withColumn("label",
        (col("label") + r * labelSpan).cast("int"))
      .withColumn("embedding", when(r === 0, col("embedding")).otherwise(
        transform(col("embedding"), (x, j) =>
          (x * (lit(1) - lit(2) * pmod(xxhash64(j, r), lit(2)))
            .cast("float")).cast("float")))) }
  }
}
