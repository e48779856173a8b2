package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.Dedupe

/** Structured Streaming form of the incremental semantics (SURVEY.md
  * §2.8): the reference's dated ingestion windows + reingestion become
  * event-time tumbling windows with a watermark; the idempotent-merge
  * late-data policy maps to watermark-bounded state.
  *
  * The batch queries in EventQueries are the oracle-checkable
  * equivalents; this module proves the same plans run under
  * `readStream` (file source, AvailableNow-style processing).
  */
object EventStreams {

  /** Streaming read of an events directory (parquet files appearing over
    * time). On a cluster this is the S3 landing zone; locally the test
    * points it at the testdata file.
    *
    * Streaming sources require a declared schema, but the generator's
    * physical encoding of `ts` has changed across testdata versions
    * (legacy TIMESTAMP(NANOS)-as-long vs timestamp[us] NTZ), so
    * hardcoding one is a time bomb: a mismatched declared type silently
    * mis-reads the column. Instead take the schema from the files
    * already in the landing dir (one driver-side footer read through
    * [[graft.sources.Parquet]], no Spark job — the landing zone is
    * seeded before the stream starts in every deployment shape here)
    * and normalize `ts` with the same
    * three-encoding branch as the batch path ([[graft.Tables.normalizeEventTs]]).
    *
    * If the landing dir exists but holds no files yet, fall back to the
    * canonical declared schema (`ts` as TIMESTAMP_NTZ — what the current
    * generator writes) instead of failing stream construction.
    *
    * Limitation (inherent to file-source streams): the schema is pinned
    * once at start. If files with a DIFFERENT ts encoding arrive
    * mid-stream (the cross-version generator drift this guards
    * against), they are mis-read under the pinned schema — a stream
    * restart re-resolves. Encoding changes are deploy-time events, so a
    * restart is the natural boundary anyway.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema =
      try graft.sources.Parquet.read(spark, dir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
          eventSchema
      }
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(fileSchema).parquet(dir))
  }

  /** Canonical events schema for an as-yet-empty landing dir (matches
    * the current generator: timestamp[us] isAdjustedToUTC=false).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling 1-hour event-time aggregation with a watermark
    * (reingestion horizon analog: late rows beyond the horizon are
    * dropped instead of re-merged — the max day-shift of the provider's
    * reingestion schedule is the natural delay).
    */
  def hourlyCounts(events: DataFrame, watermark: String = "1 day")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total"))

  /** Input row for the stateful sessionizer. */
  case class Ev(user_id: Long, ts_us: Long)
  /** Emitted when a session closes (by gap or stream end). */
  case class Session(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Custom streaming state: gap-based sessionization with
    * flatMapGroupsWithState (KeyValueGroupedDataset custom state — the
    * operator Structured Streaming's built-in windows can't express).
    * Within a batch, events for a user are sorted by event time; a gap
    * over `gapUs` closes the open session. Batch-mode equivalence with
    * the SQL lag/cumsum formulation (q33) is asserted in specs.
    */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Option[Session], Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Option[Session]]) =>
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var open = state.getOption.flatten
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            open match {
              case Some(s) if e.ts_us - s.end_us <= gapUs =>
                open = Some(s.copy(end_us = e.ts_us, n_events = s.n_events + 1))
              case Some(s) =>
                closed += s
                open = Some(Session(user, e.ts_us, e.ts_us, 1))
              case None =>
                open = Some(Session(user, e.ts_us, e.ts_us, 1))
            }
          }
          state.update(open)
          closed.result().iterator
      }
  }

  /** Streaming exact dedup (the streaming form of the batch hash-dedup):
    * keep the FIRST occurrence of each key, with state bounded by the
    * watermark horizon — a re-pull of the same record inside the
    * horizon dedupes here; one arriving beyond it re-emits and the
    * downstream idempotent merge (J6) absorbs it, exactly the
    * reference's reingestion contract. dropDuplicatesWithinWatermark
    * evicts per-key state at the horizon, so state is O(keys-per-
    * horizon), never O(all-history) — the property that keeps this
    * runnable forever on a 100 TB/day stream.
    */
  def dedupWithinHorizon(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  case class BandedDoc(band: Int, band_sig: String, doc: Long)
  case class CandPair(doc_a: Long, doc_b: Long)

  /** Streaming near-dup candidate discovery — the LSH banding pipeline
    * as a LIVE stream: each arriving document signs itself via the
    * stateless codegen'd MinHashSigExpr map (no shuffle), its banded
    * rows group by (band, band_signature), and per-bucket state holds
    * the doc ids seen so far — a new arrival emits one candidate pair
    * against every doc already in its bucket, including docs from
    * EARLIER micro-batches (the cross-batch case batch dedup re-scans
    * for). Pairs may repeat when two docs collide in several bands;
    * consumers take the distinct set (asserted equal to the batch
    * [[graft.operators.Dedupe.minhashCandidates]] pair set in spec).
    *
    * Scale shape: high-entropy band signatures keep buckets tiny, so
    * per-key state is a short id list; production deployments bound
    * total state by the reingestion horizon (timeout-based eviction —
    * a dup arriving beyond it re-emits and the downstream idempotent
    * merge absorbs it, the same contract as [[dedupWithinHorizon]]).
    */
  def streamingBandCandidates(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, rowsPerBand: Int)
      : Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val signed = docs.select(col(idCol).cast("long").as("doc"),
        graft.functions.MinHashSigExpr(
          graft.operators.TextAnalysis.capDoc(col(textCol)),
          shingleK, numHashes).as("sig"))
      .filter(size(col("sig")) > 0)
    val banded = Dedupe.withBands(signed, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col("doc")).as[BandedDoc]
    banded.groupByKey(b => (b.band, b.band_sig))
      .flatMapGroupsWithState[Seq[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[BandedDoc],
            state: GroupState[Seq[Long]]) =>
          val seen = state.getOption.getOrElse(Seq.empty)
          val fresh = rows.map(_.doc).toSeq.distinct.sorted
            .filterNot(seen.contains)
          val out = for {
            (d, i) <- fresh.zipWithIndex
            prev <- seen ++ fresh.take(i)
          } yield CandPair(math.min(prev, d), math.max(prev, d))
          state.update(seen ++ fresh)
          out.distinct.iterator
      }
  }

  case class BandedDocT(band: Int, band_sig: String, doc: Long,
      ts: java.sql.Timestamp)

  /** Horizon-bounded [[streamingBandCandidates]]: per-(band, signature)
    * state EVICTS docs whose event time falls more than `horizonMs`
    * behind the watermark — the missing piece that makes the streaming
    * near-dup detector runnable FOREVER (the unbounded variant keeps
    * every doc id ever seen; at 100 TB/day the state, not the data,
    * becomes the bottleneck).
    *
    * Contract (same as [[dedupWithinHorizon]] / the reference's
    * reingestion horizon): a near-dup arriving within the horizon of
    * its partner pairs here; one arriving beyond it pairs with nothing
    * older — it re-enters state as a fresh doc and the downstream
    * idempotent merge absorbs the re-emission. Eviction is two-level:
    * per-entry filtering on every bucket visit (a bucket with steady
    * traffic never times out but still sheds old entries), plus an
    * event-time timeout that removes QUIET buckets wholesale once the
    * watermark passes their newest doc + horizon — so total state is
    * O(docs per horizon), never O(stream history).
    */
  def streamingBandCandidatesWithHorizon(docs: DataFrame, idCol: String,
      textCol: String, tsCol: String, shingleK: Int, numHashes: Int,
      rowsPerBand: Int, horizonMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[CandPair] = {
    import docs.sparkSession.implicits._
    val signed = docs
      .withWatermark(tsCol, watermarkDelay)
      // plain alias only: a cast would mint a NEW attribute without the
      // watermark metadata and EventTimeTimeout then fails analysis
      .select(col(idCol).cast("long").as("doc"),
        col(tsCol).as("ts"),
        graft.functions.MinHashSigExpr(
          graft.operators.TextAnalysis.capDoc(col(textCol)),
          shingleK, numHashes).as("sig"))
      .filter(size(col("sig")) > 0)
    val banded = Dedupe.withBands(signed, numHashes, rowsPerBand)
      .select(col("band"), col("band_sig"), col("doc"), col("ts"))
      .as[BandedDocT]
    // state: (doc id, newest event-time ms) per member still in horizon
    banded.groupByKey(b => (b.band, b.band_sig))
      .flatMapGroupsWithState[Seq[(Long, Long)], CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, String), rows: Iterator[BandedDocT],
            state: GroupState[Seq[(Long, Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wmMs = state.getCurrentWatermarkMs()
            val seen = state.getOption.getOrElse(Seq.empty)
              .filter { case (_, t) => t + horizonMs > wmMs }
            val fresh = rows.toSeq.groupBy(_.doc)
              .map { case (d, rs) => (d, rs.map(_.ts.getTime).max) }
              .toSeq.sortBy(_._1)
              .filterNot { case (d, _) => seen.exists(_._1 == d) }
            val out = for {
              ((d, _), i) <- fresh.zipWithIndex
              (prev, _) <- seen ++ fresh.take(i)
            } yield CandPair(math.min(prev, d), math.max(prev, d))
            val next = seen ++ fresh
            state.update(next)
            // full-bucket cleanup once the watermark passes the newest
            // member + horizon (must stay strictly ahead of the current
            // watermark or Spark rejects the timestamp)
            if (next.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(next.map(_._2).max + horizonMs, wmMs + 1))
            out.distinct.iterator
          }
      }
  }

  /** ST7 as a live stream: the popularity cache (per-key running max)
    * maintained incrementally — each micro-batch's partial maxima merge
    * into the versioned table under `greatest(new, old)`, committed
    * atomically per batch. Readers always see a complete snapshot;
    * state lives in the table, not the stream (restart-safe with the
    * checkpoint), and each batch shuffles only its own rows.
    */
  def incrementalMaxCache(events: DataFrame, keyCol: String,
      valueCol: String, tableRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.MergeUpsert
    import graft.sources.VersionedTable
    events
      .groupBy(col(keyCol))
      .agg(max(col(valueCol)).as("max_value"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        VersionedTable.mergeInto(batch.sparkSession, tableRoot,
          batch, Seq(keyCol),
          Map("max_value" -> ((n, o) => greatest(n, o))))
        ()
      }
      .start()
  }

  /** Run a streaming query to completion over the currently-available
    * input (Trigger.AvailableNow analog via processAllAvailable) and
    * return the result table.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String)
      : DataFrame = {
    val q = streamed.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
