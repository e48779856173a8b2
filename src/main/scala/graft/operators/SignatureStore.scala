package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheHandle
import graft.sources.{SegmentedTable, VersionedTable}

/** Persisted corpus state for the incremental near-dup pipeline: the
  * MinHash signature table, the derived LSH band index, and the
  * component-label table, all as [[graft.sources.SegmentedTable]]s
  * (delta-file appends, manifest commits) under one store root:
  *
  * {{{
  *   <root>/sigs/_segNNNNNNNN/    (doc, sig array<long>[, cnt]) segments
  *   <root>/bands/_segNNNNNNNN/   (doc, band, band_sig, cnt) segments
  *   <root>/labels/_segNNNNNNNN/  (node, label) base + override deltas
  * }}}
  *
  * This is the matview-style cache-the-heavy-thing pattern the
  * reference applies to popularity (`common/popularity/README.md:9-12`):
  * the corpus-scale work (signing every document, propagating labels)
  * happens ONCE per corpus version; each nightly batch then reads the
  * persisted state and pays only O(batch + true collisions) via
  * [[Dedupe.incrementalFromStore]]. Without the store, "incremental"
  * clustering re-signs the corpus every night and costs the same as
  * from-scratch — the operator's reason to exist evaporates.
  *
  * The WRITE side obeys the same contract: [[appendBatch]] commits only
  * the batch's signature and band rows as new segments plus a
  * bytes-sized manifest — O(batch) writes per night, like the
  * reference's loading-table upsert (`loader/sql.py:264-332`, which
  * writes only upserted rows). Signatures and bands are grow-only, so
  * plain delta appends suffice; labels CAN change for any existing node
  * when a batch bridges two old clusters, so that table is merge-on-read
  * ([[graft.sources.SegmentedTable.readLatestWins]]): the night commits
  * only the CHANGED rows as an override delta, and readers fold deltas
  * over the base — O(changed) label bytes per night, with [[compact]]
  * bounding the delta set the fold broadcasts.
  * Readers flip atomically from manifest v to v+1, yesterday's versions
  * stay readable for time travel, and a crashed writer leaves the store
  * at v. Segment-count growth is bounded by [[compact]].
  *
  * Stores committed under the pre-delta layout (full `_vNNNNNNNN`
  * snapshots) upgrade in place: the first [[appendBatch]] adopts the
  * committed snapshot directory as segment zero — zero bytes rewritten.
  */
object SignatureStore {

  def sigsRoot(root: String): String = s"$root/sigs"
  def labelsRoot(root: String): String = s"$root/labels"
  def bandsRoot(root: String): String = s"$root/bands"

  /** A table committed under either layout: delta (manifest) or legacy
    * full-snapshot.
    */
  private def tableExists(spark: SparkSession, root: String): Boolean =
    SegmentedTable.currentVersion(spark, root).isDefined ||
      VersionedTable.currentVersion(spark, root).isDefined

  /** Read preferring the delta layout; a pre-delta store reads its
    * legacy snapshot untouched.
    */
  private def readTable(spark: SparkSession, root: String): DataFrame =
    if (SegmentedTable.currentVersion(spark, root).isDefined)
      SegmentedTable.read(spark, root)
    else VersionedTable.read(spark, root)

  /** True iff the two FOUNDATIONAL tables (signatures, labels) have a
    * committed version. The band index is derived state: a store
    * committed under the pre-bands layout still EXISTS — requiring
    * bands here made [[ensureCorpusState]] silently rebuild the whole
    * corpus state on such a store; instead the bands are derived from
    * the committed signatures and committed in place ([[ensureBands]]).
    */
  def exists(spark: SparkSession, root: String): Boolean =
    tableExists(spark, sigsRoot(root)) &&
      tableExists(spark, labelsRoot(root))

  /** True iff the derived band index has a committed version. */
  def hasBands(spark: SparkSession, root: String): Boolean =
    tableExists(spark, bandsRoot(root))

  /** Upgrade path for a sigs+labels-only store (pre-bands layout):
    * derive the band index from the committed signatures and commit it,
    * once. No-op when the bands table already exists.
    */
  def ensureBands(spark: SparkSession, root: String, numHashes: Int,
      rowsPerBand: Int): Unit =
    if (!hasBands(spark, root)) {
      val sig = readTable(spark, sigsRoot(root))
      val rows = sig.count()
      val nBands = numHashes / rowsPerBand
      SegmentedTable.commitFull(
        Dedupe.bandRowsOf(sig, numHashes, rowsPerBand)
          .coalesce(autoPartitions(rows * nBands)),
        bandsRoot(root))
    }

  /** Read the committed label assignment. Labels are the one table
    * whose EXISTING rows can be rewritten by a night (a batch that
    * bridges two old components relabels both), so the delta layout
    * reads them merge-on-read: base segment ∪ latest-wins override
    * deltas ([[graft.sources.SegmentedTable.readLatestWins]]). A
    * pre-delta store reads its legacy snapshot untouched.
    */
  def readLabels(spark: SparkSession, root: String): DataFrame =
    if (SegmentedTable.currentVersion(spark, labelsRoot(root)).isDefined)
      SegmentedTable.readLatestWins(spark, labelsRoot(root), Seq("node"))
    else VersionedTable.read(spark, labelsRoot(root))

  /** Read the committed (sigs, labels) snapshot. */
  def read(spark: SparkSession, root: String): (DataFrame, DataFrame) =
    (readTable(spark, sigsRoot(root)), readLabels(spark, root))

  /** Read the committed LSH band index (doc, band, band_sig, cnt) —
    * what the nightly candidate pass scans; banding is computed at
    * commit time, once per corpus version, never per night.
    */
  def readBands(spark: SparkSession, root: String): DataFrame = {
    if (!hasBands(spark, root))
      throw new IllegalStateException(
        s"SignatureStore at $root has no committed band index " +
          "(pre-bands layout); call ensureBands/ensureCorpusState to " +
          "derive it from the committed signatures")
    readTable(spark, bandsRoot(root))
  }

  /** Rows per committed file under AUTO packing. ~50k signature rows ≈
    * 5-8 MB parquet — small enough that bench-scale tables stay one
    * file (no listing/task floor), large enough that a 100× corpus
    * commits tens of files and every nightly scan parallelizes. The r13
    * probe caught the failure mode this guards: a 484k-row corpus
    * packed into ONE 49 MB file read as ONE task made the nightly path
    * single-threaded — 2× SLOWER than from-scratch regardless of batch
    * size, because maxPartitionBytes only splits files larger than
    * itself.
    */
  val autoRowsPerFile: Long = 50000L

  /** Build the corpus state from scratch and commit it: sign every
    * corpus document (one codegen'd per-row loop), generate + verify
    * LSH candidate pairs, resolve connected components, and commit the
    * signature and label tables. The corpus-scale cost lives HERE, once
    * per corpus version — never in the nightly path.
    *
    * @param outPartitions files per committed table: -1 (default) =
    *   AUTO from the materialized row count (ceil(rows /
    *   [[autoRowsPerFile]]), capped at 64); 0 = keep the upstream
    *   partitioning; >0 explicit. A production store sizes this to
    *   corpus bytes / ~128 MB.
    */
  def build(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numHashes: Int,
      rowsPerBand: Int, minJaccard: Double,
      caches: CacheHandle = CacheHandle.session,
      outPartitions: Int = -1): Unit = {
    // persisted: consumed by the commit write AND the candidate pass.
    // withCount: the trailing distinct-shingle count feeds the
    // size-ratio verify-prune, here and in every later incremental run
    // reading this table.
    val sig = CacheHandle.eager(caches.track(
      Dedupe.minhashWide(corpus, idCol, textCol, shingleK, numHashes,
        withCount = true).persist()))
    val sigRows = sig.count()
    val parts =
      if (outPartitions >= 0) outPartitions
      else autoPartitions(sigRows)
    def pack(df: DataFrame): DataFrame =
      if (parts > 0) df.coalesce(parts) else df
    // the banding index is PART of the corpus version: deriving band
    // rows costs an interpreted slice/join pass per signature, paid
    // here once instead of by every nightly read. Its file count is
    // sized from the BAND row count (nBands × signatures) — reusing
    // the signature-table partition count packed band files ~nBands×
    // over autoRowsPerFile, shrinking nightly band-scan parallelism
    // (the exact single-file failure mode AUTO packing exists to fix).
    val nBands = numHashes / rowsPerBand
    val bandParts =
      if (outPartitions >= 0) outPartitions
      else autoPartitions(sigRows * nBands)
    def packBands(df: DataFrame): DataFrame =
      if (bandParts > 0) df.coalesce(bandParts) else df
    // the signature and band commits read only the materialized `sig`
    // cache, and the label pipeline below does not read the committed
    // tables — run the two writes CONCURRENTLY with the candidate/
    // verify/components computation (independent tables, independent
    // manifests; the build pays max(writes, labels) not the sum)
    val sigWrite = concurrently(spark) {
      SegmentedTable.commitFull(pack(sig), sigsRoot(root))
    }
    val bandWrite = concurrently(spark) {
      SegmentedTable.commitFull(
        packBands(Dedupe.bandRowsOf(sig, numHashes, rowsPerBand)),
        bandsRoot(root))
    }
    val labels = Dedupe.nearDupComponents(sig, corpus, idCol, textCol,
      shingleK, numHashes, rowsPerBand, minJaccard, caches)
    // single base segment — nightly label deltas fold over it
    SegmentedTable.commitFull(pack(labels), labelsRoot(root))
    Await.result(Future.sequence(Seq(sigWrite, bandWrite)), Duration.Inf)
  }

  /** Read the committed corpus state — (band index, labels), the two
    * tables the nightly path consumes — building the store first if it
    * is empty. The idempotent entry point for jobs that own their
    * store.
    */
  def ensureCorpusState(spark: SparkSession, root: String,
      corpus: => DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, rowsPerBand: Int, minJaccard: Double,
      caches: CacheHandle = CacheHandle.session): (DataFrame, DataFrame) = {
    if (!exists(spark, root))
      build(spark, root, corpus, idCol, textCol, shingleK, numHashes,
        rowsPerBand, minJaccard, caches)
    else ensureBands(spark, root, numHashes, rowsPerBand)
    (readBands(spark, root), readLabels(spark, root))
  }

  /** Close the nightly loop with O(batch) writes: commit ONLY the
    * batch's signatures and band rows as new delta segments (plus two
    * bytes-sized manifests), and the merged labels as the next label
    * snapshot, so tomorrow's batch sees tonight's corpus. `mergedLabels`
    * is [[Dedupe.incrementalFromStore]]'s output; `batchSig` the
    * batch's signatures ([[Dedupe.minhashWide]] over the batch only).
    *
    * Nothing corpus-sized is read OR written here — the committed
    * corpus segments are untouched; readers see old segments ∪ the new
    * one after the atomic manifest flip. A pre-delta store (full
    * `_vNNNNNNNN` snapshot) upgrades in place by adopting its committed
    * snapshot directory as segment zero, zero bytes rewritten.
    */
  /** @param labelDelta when Some, the night's CHANGED label rows
    *   ([[Dedupe.incrementalFromStoreWithDelta]]'s second output):
    *   only these are committed, as a latest-wins delta segment —
    *   O(changed) label bytes per night instead of the O(corpus)
    *   snapshot rewrite — and `mergedLabels` is never consumed (lazy).
    *   When None, the full merged assignment is committed as a
    *   replacement snapshot (legacy behavior, correct but
    *   corpus-sized).
    * @param batchSigRows `batchSig`'s row count when the caller already
    *   has it ([[CacheHandle.fill]]'s result); otherwise the cache fill
    *   here supplies it.
    *
    * Jobs: one cache fill (none when the caller filled the frame and
    * passed its count) plus one write job per committed segment — the
    * label delta's write scans the labels once when tonight relabels an
    * old component and reads only a local relation when it does not.
    */
  def appendBatch(spark: SparkSession, root: String, batchSig: DataFrame,
      mergedLabels: DataFrame, numHashes: Int, rowsPerBand: Int,
      tag: Option[String] = None,
      labelDelta: Option[DataFrame] = None,
      batchSigRows: Option[Long] = None): Unit = {
    // a pre-bands-layout store upgrades here too — appendBatch has the
    // banding parameters, so reading it must not throw
    ensureBands(spark, root, numHashes, rowsPerBand)
    // legacy full-snapshot tables → delta layout, in place
    if (SegmentedTable.currentVersion(spark, sigsRoot(root)).isEmpty)
      SegmentedTable.adopt(spark, sigsRoot(root))
    if (SegmentedTable.currentVersion(spark, bandsRoot(root)).isEmpty)
      SegmentedTable.adopt(spark, bandsRoot(root))
    // persist: the row count (for AUTO file sizing), the segment write
    // and the band derivation must not each re-sign the batch. A caller
    // that already holds the frame cached (foldNight signs once for
    // candidates AND commit) keeps ownership — don't re-persist, and
    // don't unpersist out from under it.
    val wasCached = batchSig.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val batch = if (wasCached) batchSig else batchSig.persist()
    try {
      // the count is the cache fill's own (no separate counting job),
      // or the caller's when it filled the cache
      val batchRows = batchSigRows.getOrElse(CacheHandle.fill(batch))
      // tagged appends are idempotent PER TABLE: a replay after a crash
      // midway through this method (streaming foreachBatch retries the
      // whole batch) skips the tables that already committed this tag
      // and completes the rest — effective exactly-once without a
      // cross-table transaction
      val nBands = numHashes / rowsPerBand
      // The three segment writes (signatures, band rows, label delta)
      // land in DIFFERENT tables with independent manifest commits and
      // share no uncomputed lineage (batch is materialized above; the
      // delta's component map is checkpointed by the merge pass), so
      // they run as CONCURRENT jobs — each write alone is a handful of
      // small tasks that leaves most of the cluster idle, and the
      // night pays max() of the three instead of their sum. Crash
      // semantics are unchanged: per-table tag guards make a replay
      // complete whichever tables missed their commit.
      val writes = scala.collection.mutable.ArrayBuffer[Future[Unit]]()
      if (!tag.exists(t => SegmentedTable.hasTag(spark, sigsRoot(root), t)))
        writes += concurrently(spark) {
          SegmentedTable.appendSegment(
            batch.coalesce(autoPartitions(batchRows)), sigsRoot(root),
            tag)
        }
      // band segment: the batch's rows banded once, at commit time —
      // the nightly read must never re-derive them. File count sized
      // from the segment's BAND rows (nBands × batch), not the corpus
      if (!tag.exists(t => SegmentedTable.hasTag(spark, bandsRoot(root), t)))
        writes += concurrently(spark) {
          SegmentedTable.appendSegment(
            Dedupe.bandRowsOf(batch, numHashes, rowsPerBand)
              .coalesce(autoPartitions(batchRows * nBands)),
            bandsRoot(root), tag)
        }
      labelDelta.foreach { delta =>
        // O(changed) label commit: a pre-delta labels table adopts its
        // snapshot as the merge-on-read base, then only the changed
        // rows land as a tagged override segment. Idempotent two ways:
        // the tag guard skips a replayed commit outright, and an
        // untagged replay recomputes the delta against the
        // already-updated labels — empty by construction.
        if (SegmentedTable.currentVersion(spark, labelsRoot(root)).isEmpty)
          SegmentedTable.adopt(spark, labelsRoot(root))
        if (!tag.exists(t =>
            SegmentedTable.hasTag(spark, labelsRoot(root), t)))
          writes += concurrently(spark) {
            SegmentedTable.appendSegment(
              delta.select(col("node"), col("label")).coalesce(1),
              labelsRoot(root), tag)
          }
      }
      Await.result(Future.sequence(writes.toSeq), Duration.Inf)
    } finally if (!wasCached) batch.unpersist()
    if (labelDelta.isEmpty) {
      // legacy snapshot commit, idempotent BY VALUE: a replay
      // recomputes the same contracted map and commits an identical
      // next version (an extra time-travel entry, not duplicate
      // state). Layout-aware so a delta-layout table never gains a
      // competing _vNNNNNNNN snapshot.
      if (SegmentedTable.currentVersion(spark, labelsRoot(root)).isDefined)
        SegmentedTable.commitFull(mergedLabels, labelsRoot(root))
      else VersionedTable.commit(mergedLabels, labelsRoot(root))
    }
  }

  /** One CLOSED nightly fold: read the committed corpus state, sign
    * the batch ONCE, generate+verify candidates against the persisted
    * band index, fold the verified edges into the labels, and commit
    * signatures + band rows + the O(changed) label delta as one
    * overlapped commit ([[appendBatch]]). This is the composition
    * q80 and the streaming sink run every night; the single shared
    * signature frame and the concurrent segment writes are what keep
    * the per-night fixed overhead at (sign + candidates + max(writes))
    * instead of (2×sign + candidates + Σwrites).
    *
    * The fixed overhead is counted in Spark jobs: a streaming night
    * (this fold, the doc-segment append and [[compact]]) starts 19 on
    * 250-document batches, down from 39 — the signature cache fill
    * doubles as the commit's row count, the verified edges resolve to
    * labels on the driver under
    * [[Dedupe.incrementalComponentsWithDelta]]'s byte budget (with the
    * distributed contraction past it), and compaction sizes its files
    * from parquet footers.
    */
  def foldNight(spark: SparkSession, root: String, batch: DataFrame,
      textLookup: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, rowsPerBand: Int,
      minJaccard: Double, tag: Option[String] = None,
      caches: CacheHandle = CacheHandle.session): Unit = {
    val (bands, labels) = (readBands(spark, root), readLabels(spark, root))
    val sig = Dedupe.minhashWide(batch, idCol, textCol, shingleK,
      numHashes, withCount = true).persist()
    try {
      val sigRows = CacheHandle.fill(sig)
      val (merged, delta) = Dedupe.incrementalFromStoreWithDelta(
        bands, labels, batch, textLookup, idCol, textCol, shingleK,
        numHashes, rowsPerBand, minJaccard, caches,
        preSigned = Some(sig))
      appendBatch(spark, root, sig, merged, numHashes, rowsPerBand,
        tag, labelDelta = Some(delta), batchSigRows = Some(sigRows))
    } finally sig.unpersist()
  }

  /** Bound delta-segment growth: rewrite signatures and bands as one
    * AUTO-packed segment each and vacuum superseded segments. Search
    * results are unaffected (same rows, fresh manifest, atomic flip);
    * run it every ~N nights, exactly like lakehouse OPTIMIZE. The AUTO
    * file counts come from the signature segments' parquet footers
    * ([[SegmentedTable.rowCount]]), so sizing starts no Spark job; the
    * rewrites are the only jobs.
    */
  def compact(spark: SparkSession, root: String,
      numHashes: Int, rowsPerBand: Int): Unit = {
    val sigRows = SegmentedTable.rowCount(spark, sigsRoot(root))
    SegmentedTable.compact(spark, sigsRoot(root),
      _.coalesce(autoPartitions(sigRows)))
    val nBands = numHashes / rowsPerBand
    SegmentedTable.compact(spark, bandsRoot(root),
      _.coalesce(autoPartitions(sigRows * nBands)))
    SegmentedTable.vacuum(spark, sigsRoot(root))
    SegmentedTable.vacuum(spark, bandsRoot(root))
    // labels: fold the override deltas into a fresh base segment —
    // this is what bounds the merge-on-read broadcast (readLabels'
    // delta key set is deltas-since-compaction)
    if (SegmentedTable.currentVersion(spark, labelsRoot(root)).isDefined) {
      SegmentedTable.compactLatestWins(spark, labelsRoot(root),
        Seq("node"), _.coalesce(autoPartitions(sigRows)))
      SegmentedTable.vacuum(spark, labelsRoot(root))
    }
  }

  /** `f` on the global pool, its Spark jobs carrying the caller's job
    * tags: a pool thread otherwise keeps the tags of whichever thread
    * created it, and a [[graft.core.RunProfile]] around the caller
    * would miss the jobs or charge them to another block.
    */
  private def concurrently[A](spark: SparkSession)(f: => A): Future[A] = {
    val sc = spark.sparkContext
    val tags = sc.getJobTags()
    Future {
      sc.clearJobTags()
      sc.addJobTags(tags)
      try f finally sc.clearJobTags()
    }
  }

  private def autoPartitions(rows: Long): Int =
    math.max(1L, math.min(64L,
      (rows + autoRowsPerFile - 1) / autoRowsPerFile)).toInt
}
