package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{centroidValues, nearestCellCol}

/** The slow shuffle pipelines the engine's one-pass operators replaced,
  * kept as the references specs pin the fast paths bit-equal to.
  */
object Reference {

  /** Exact `percentile_disc(p)` per key by counts → cumulative window:
    * groupBy(keys, value).count, then per key the smallest value whose
    * cumulative count reaches `total * p`. One row per key with a non-null
    * value; column `pct`, typed like `valueCol`.
    */
  def percentileDisc(df: DataFrame, keys: Seq[String], valueCol: String,
      p: Double): DataFrame =
    withCumulative(df, keys, valueCol)
      .filter(col("__cum") >= col("__tot") * lit(p))
      .groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("pct"))

  /** Several fractions over the same cumulative window: columns
    * `pct0, pct1, …` in `ps` order.
    */
  def percentileDiscMulti(df: DataFrame, keys: Seq[String],
      valueCol: String, ps: Seq[Double]): DataFrame = {
    val pcts = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= col("__tot") * lit(p), col(valueCol)))
        .as(s"pct$i")
    }
    withCumulative(df, keys, valueCol)
      .groupBy(keys.map(col): _*)
      .agg(pcts.head, pcts.tail: _*)
  }

  /** Distinct (keys, value) rows with their count `__n`, the running
    * count `__cum` in value order and the key's total `__tot`.
    */
  private def withCumulative(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val cumW = byKey.orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(valueCol).isNotNull)
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__cum", sum("__n").over(cumW))
      .withColumn("__tot", sum("__n").over(byKey))
  }

  /** Stopword language ID by explode → broadcast join of the stopword
    * dim → hits per (doc, language) → argmax (more hits, then the
    * smallest language) → join back, 'und' for no hits.
    */
  def languageId(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = graft.operators.TextAnalysis.stopwords.toDF("cand_lang", "word")
    val hits = docs
      .select(col(idCol).as("doc"),
        explode(graft.operators.Dedupe.words(lower(col(textCol)))).as("word"))
      .join(broadcast(dim), Seq("word"))
      .groupBy("doc", "cand_lang").agg(count(lit(1)).as("hits"))
    val best = hits.groupBy("doc").agg(
      min_by(col("cand_lang"),
        struct((-col("hits")).as("nh"), col("cand_lang")))
        .as("pred_lang"))
    docs.select(col(idCol).as("doc"))
      .join(best, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("pred_lang"), lit("und")).as("pred_lang"))
  }

  /** Fixed-dimension dot product as an expanded `element_at` chain, the
    * form [[graft.operators.Similarity.dotNative]]'s loop replaced: the
    * same left-to-right addition order, so results are bit-identical.
    */
  def dotFixed(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** Each vector's nearest-centroid (IVF) cell as an `(id, cell_id)`
    * frame — the assignment reference specs hold the index, search and
    * semantic-dedup paths to. `centroids` is a small
    * (cell_id, centroid array<double>) frame.
    *
    * One output row per INPUT row — duplicate ids each keep their row —
    * and a null `vecCol` yields a null cell_id.
    */
  def assignCells(vectors: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.select(col(idCol),
      nearestCellCol(centroidValues(centroids), col(vecCol)).as("cell_id"))
}
