package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CacheHandle, RunProfile}

/** `CacheHandle.eager` fills a persisted frame's cache in one pass over
  * the frame's own lineage: later actions read the cache, not the
  * source, and the pass adds no aggregate (no exchange, no extra job).
  */
class CacheHandleSpec extends SparkSpec {

  /** A 4-partition, shuffle-free frame whose source rows are counted:
    * (frame, rows computed so far).
    */
  private def countedSource(): (DataFrame, () => Long) = {
    val computed = spark.sparkContext.longAccumulator
    val touch = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    (spark.range(0, 1000, 1, 4).select(touch(col("id")).as("id")),
      () => computed.sum)
  }

  /** (jobs, stages) the calling thread's `f` starts. */
  private def jobsAndStages(f: => Unit): (Int, Int) = {
    val (_, p) = RunProfile(spark)(f)
    (p.jobs, p.stages)
  }

  test("eager fills the cache: a second action reads it, not the source") {
    val (df, computed) = countedSource()
    val cached = df.persist()
    try {
      CacheHandle.eager(cached)
      assert(cached.storageLevel != StorageLevel.NONE)
      assert(computed() == 1000)
      assert(cached.agg(sum("id")).head().getLong(0) == 499500L)
      assert(computed() == 1000, "second action recomputed the source")
    } finally cached.unpersist()
  }

  test("eager's pass is one job over the lineage's own stage (no " +
      "aggregate exchange)") {
    val (df, _) = countedSource()
    val cached = df.persist()
    try {
      assert(jobsAndStages(CacheHandle.eager(cached)) == ((1, 1)))
      // the old df.count() added a partial/final aggregate: an
      // exchange, so a second stage
      val (_, countStages) = jobsAndStages(df.count())
      assert(countStages > 1)
    } finally cached.unpersist()
  }

  test("eager caches a frame whose query execution was planned before " +
      "persist()") {
    val (df, computed) = countedSource()
    df.queryExecution.executedPlan // plan it uncached
    val cached = df.persist()
    try {
      CacheHandle.eager(cached)
      assert(computed() == 1000)
      // a consumer planned after the fill reads the cache
      cached.agg(sum("id")).head()
      assert(computed() == 1000, "the fill ran the uncached plan")
    } finally cached.unpersist()
  }

  test("a refill after unpersist compiles no code: every fill runs " +
      "under the session's one class loader") {
    val df = spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 13).as("k")).agg(sum("id").as("s"))
      .persist()
    try {
      CacheHandle.fill(df)
      df.unpersist(blocking = true)
      df.persist()
      val (n, p) = RunProfile(spark)(CacheHandle.fill(df))
      assert(n == 13)
      assert(p.compiles == 0, p)
    } finally df.unpersist()
  }

  test("fill returns the row count") {
    val (df, _) = countedSource()
    val filtered = df.filter(col("id") % 7 === 0).persist()
    try assert(CacheHandle.fill(filtered) == filtered.count())
    finally filtered.unpersist()
  }
}
