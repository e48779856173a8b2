package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame

/** Fill a persisted frame's cache in one pass over its own plan. */
object CacheBridge {
  /** Run `df`'s logical plan through a FRESH query execution and count
    * its rows. The fresh execution is what makes the pass fill the
    * cache: planning swaps a persisted plan for its in-memory relation,
    * and a frame whose own `queryExecution` was planned before
    * `persist()` would otherwise run uncached. Counting the RDD (not
    * `df.count()`) keeps the pass to the lineage's own stages — no
    * partial/final aggregate, so no extra exchange or job.
    */
  def fill(df: DataFrame): Long =
    df.sparkSession.sessionState.executePlan(df.queryExecution.logical)
      .toRdd.count()
}
