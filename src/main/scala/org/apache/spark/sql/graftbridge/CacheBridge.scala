package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution

/** Fill a persisted frame's cache in one pass over its own plan. */
object CacheBridge {
  /** Run `df`'s logical plan through a FRESH query execution and count
    * its rows. The fresh execution is what makes the pass fill the
    * cache: planning swaps a persisted plan for its in-memory relation,
    * and a frame whose own `queryExecution` was planned before
    * `persist()` would otherwise run uncached. Counting the RDD (not
    * `df.count()`) keeps the pass to the lineage's own stages — no
    * partial/final aggregate, so no extra exchange or job.
    *
    * The pass runs as a SQL execution, as every Dataset action does.
    * Outside one, each fill's shuffle-map stages ran under a new
    * executor class loader, and Spark's codegen cache is keyed on the
    * context class loader as well as the code: every class in those
    * stages recompiled on every fill, and the dead loaders' entries
    * crowded the cache.
    */
  def fill(df: DataFrame): Long = {
    val qe = df.sparkSession.sessionState.executePlan(
      df.queryExecution.logical)
    SQLExecution.withNewExecutionId(qe)(qe.toRdd.count())
  }
}
