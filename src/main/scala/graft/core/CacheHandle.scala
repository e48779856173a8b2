package graft.core

import org.apache.spark.sql.DataFrame

/** Release handle for persisted frames created INSIDE lazy operators.
  *
  * Several operators ([[graft.operators.Dedupe.minhashCandidates]],
  * [[graft.operators.Dedupe.nearDupPairs]], the SimHash/SRP band
  * joins) must `persist()` an intermediate frame because two
  * concurrent consumers (a differently-aliased self-join, or the
  * verify's two reads of the candidate pairs) would each recompute it
  * — Catalyst does not reuse the exchange. The operator returns a LAZY DataFrame, so
  * it cannot unpersist before the caller materializes — and without a
  * hook, library/notebook callers accumulate cached frames for the
  * session lifetime (`clearCache()` is a sledgehammer that also evicts
  * the caller's own caches).
  *
  * Pattern: the caller passes a handle, materializes the operator's
  * output, then releases —
  * {{{
  * val caches = CacheHandle()
  * val pairs = Dedupe.minhashCandidates(sig, 64, 4, caches)
  * pairs.write.parquet(out)   // materialize
  * caches.release()           // drop the operator's internal caches
  * }}}
  *
  * The default [[CacheHandle.session]] handle tracks nothing: frames
  * stay cached until `clearCache()` or session end (the pre-handle
  * behavior, fine for short-lived jobs and the bench harness, which
  * clears the cache between queries).
  */
final class CacheHandle private (tracking: Boolean) {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Record a frame the operator persisted; returns it unchanged. */
  private[graft] def track(df: DataFrame): DataFrame =
    if (!tracking) df else synchronized { frames += df; df }

  /** Unpersist every tracked frame (idempotent). Call only after the
    * operator's output has been materialized — released blocks are
    * recomputed from source if a plan reads them again.
    */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
  }
}

object CacheHandle {
  /** A live handle: operators register their internal persists on it. */
  def apply(): CacheHandle = new CacheHandle(true)

  /** Materialize a persisted frame that a SINGLE downstream action
    * consumes more than once. A lazy persist is NOT enough there:
    * AQE submits independent query stages concurrently, and stages
    * racing to compute a not-yet-materialized cached plan EACH execute
    * its full lineage — the cache dedupes storage, not concurrent
    * compute. Measured on q59 at sf0.1: the verified-pair pipeline ran
    * twice (2 × 1.3 s, identical job fingerprints) because the two
    * edge-doubling arms raced, and the banded self-joins in
    * minhashCandidates / simhashNearDupPairs / srpNearDupPairs race
    * the same way. One pass here ([[fill]]) populates the cache while
    * this plan is still the only consumer; every later stage reads
    * cached batches. At cluster scale this adds no compute — the
    * materialization pass was required anyway for the cache to serve
    * both consumers — it only moves the barrier earlier.
    *
    * The pass is one Spark job over the lineage's own stages and no
    * aggregate: a `df.count()` here would add a partial/final
    * aggregate — an exchange, a job and ~4 generated classes — at every
    * call site.
    */
  def eager(df: DataFrame): DataFrame = { fill(df); df }

  /** [[eager]] returning the frame's row count (= `df.count()`), for
    * callers that size their output from it — so sizing costs no
    * second job.
    */
  def fill(df: DataFrame): Long =
    org.apache.spark.sql.graftbridge.CacheBridge.fill(df)

  /** No-op handle (the default): internal persists live until
    * `clearCache()`/session end, as before r9.
    */
  val session: CacheHandle = new CacheHandle(false)
}
