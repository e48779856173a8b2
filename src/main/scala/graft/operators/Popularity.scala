package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.PercentileDiscAgg

/** Per-provider percentile-based popularity scoring.
  *
  * Reference semantics (openverse-catalog):
  *  - `catalog/dags/common/popularity/sql.py:202-229` — per-provider
  *    `percentile_disc(p) WITHIN GROUP (ORDER BY metric)` (Postgres
  *    discrete percentile: the smallest actual value whose cumulative
  *    distribution is >= p).
  *  - `catalog/dags/common/popularity/sql.py:249-273` — popularity
  *    constant `((1-p)/p) * max(percentile_value, 1)`.
  *  - `catalog/dags/common/popularity/sql.py:313-326` — standardized
  *    score `metric / (metric + constant)` per row.
  *
  * Scale design: `percentile_disc` is one exact aggregate grouped by
  * key ([[graft.functions.PercentileDiscAgg]]). Its buffer is a
  * value→count map of the key's distinct values, so the map-side
  * partial collapses duplicate (key, value) pairs before the single
  * shuffle — at 100 TB the number of distinct (provider, metric_value)
  * pairs is orders of magnitude smaller than the row count. The
  * trade-off: a key's buffer lives in executor memory and cannot spill,
  * so one key with more distinct values than a task's heap holds fails
  * the task. The count → cumulative-window pipeline this replaced held
  * the same distinct values per key but could spill its sort; it cost a
  * second shuffle, a sort and two windows, and twice the generated
  * classes. The reference caches this "heavyweight"
  * computation in a matview with a 6h build budget; here it's a small
  * shuffled aggregate.
  */
object Popularity {

  /** Exact Postgres `percentile_disc(p) WITHIN GROUP (ORDER BY valueCol)`
    * per group of `keys`. Nulls are excluded (Postgres aggregates ignore
    * nulls), so a key whose values are all null has no row. Returns one
    * row per key with column `pct`, typed like `valueCol`.
    */
  def percentileDisc(df: DataFrame, keys: Seq[String], valueCol: String,
      p: Double): DataFrame =
    percentileDiscMulti(df, keys, valueCol, Seq(p))
      .withColumnRenamed("pct0", "pct")

  /** Several exact percentile_disc fractions from one aggregate buffer
    * per key: one shuffled aggregate however many cutoffs are asked for.
    * Returns one row per key with columns `pct0, pct1, …` in `ps` order,
    * typed like `valueCol`.
    */
  def percentileDiscMulti(df: DataFrame, keys: Seq[String],
      valueCol: String, ps: Seq[Double]): DataFrame = {
    val pcts = col("__pcts")
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(PercentileDiscAgg.column(col(valueCol), ps).as("__pcts"))
      .select(keys.map(col) ++
        ps.indices.map(i => pcts.getItem(i).as(s"pct$i")): _*)
  }

  /** Popularity constant per key: `((1-p)/p) * (pct == 0 ? 1 : pct)`.
    * Mirrors sql.py:249-273 (zero percentile is clamped to 1 so the
    * constant never degenerates).
    */
  def constants(df: DataFrame, keys: Seq[String], valueCol: String,
      p: Double): DataFrame =
    percentileDisc(df, keys, valueCol, p)
      .withColumn("constant",
        ((lit(1.0) - lit(p)) / lit(p)) *
          when(col("pct") <= lit(0.0), lit(1.0)).otherwise(col("pct")))

  /** Standardized popularity `metric / (metric + constant)` via a
    * broadcast join of the (tiny) per-key constants dimension — the Spark
    * replacement for the reference's per-row scalar-subquery SQL function
    * (sql.py:313-326). Broadcast keeps the 100 TB fact side shuffle-free.
    */
  def score(facts: DataFrame, consts: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    facts
      .join(broadcast(consts.select((keys.map(col) :+ col("constant")): _*)),
        keys, "left")
      .withColumn("score", col(valueCol) / (col(valueCol) + col("constant")))

  /** The metrics-config upsert
    * (refresh_popularity_metrics_task_factory.py:25-95 →
    * popularity/sql.py:139-177): merge incoming (provider, metric,
    * percentile) rows into the config dim — newest non-null wins.
    */
  def updateMetricsConfig(current: DataFrame, incoming: DataFrame)
      : DataFrame =
    MergeUpsert.merge(current, incoming, Seq("provider"))

  /** The "data refresh" job (SURVEY.md §3.3): recompute the constants
    * dimension and the scored snapshot — the engine's replacement for
    * the reference's matview refresh (popularity/sql.py:249-283,
    * 385-421; production budget: 6 h for constants, up to 21 DAYS for
    * the matview — here it is one broadcast-join pass over the fact
    * table).
    *
    * The refresh is a TRANSACTION: constants and scored snapshot commit
    * as versioned tables (graft.sources.VersionedTable), so a reader
    * mid-scan keeps its resolved version while the pointer flips — the
    * lake equivalent of the reference's `REFRESH MATERIALIZED VIEW
    * CONCURRENTLY` swap, plus time travel to prior refreshes. Returns
    * the observe() metrics and both committed versions.
    */
  def refreshViewsVersioned(facts: DataFrame, keys: Seq[String],
      valueCol: String, p: Double, tableRoot: String): Map[String, Any] = {
    import graft.sources.VersionedTable
    val constsRoot = s"$tableRoot/popularity_constants"
    val vConsts = VersionedTable.commit(
      constants(facts, keys, valueCol, p).coalesce(1), constsRoot)
    // score against the COMMITTED constants, read back: the view then
    // costs one pass over the facts instead of recomputing the
    // percentiles, and it is scored with exactly the version it names
    // (doubles round-trip parquet bit-exactly)
    val consts = VersionedTable.read(facts.sparkSession, constsRoot,
      Some(vConsts))
    val obs = org.apache.spark.sql.Observation("popularity_refresh_v")
    val scored = score(facts, consts, keys, valueCol)
      .observe(obs, count(lit(1)).as("rows_scored"),
        sum(when(col("score").isNull, 1L).otherwise(0L)).as("null_scores"))
    // a refresh REPLACES the snapshot (new version), it does not merge
    val vView = VersionedTable.commit(scored, s"$tableRoot/media_view")
    obs.get ++ Map("constants_version" -> vConsts, "view_version" -> vView)
  }
}
