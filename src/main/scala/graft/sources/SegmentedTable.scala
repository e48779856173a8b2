package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delta-file table: immutable data segments + a manifest commit, so an
  * APPEND writes only the new rows — O(batch) bytes regardless of how
  * large the table has grown. This is the write-side complement to
  * [[VersionedTable]] (which stages a complete snapshot per commit, the
  * right shape for merged/replaced state like upsert targets, and the
  * wrong shape for grow-only state like a signature corpus, where a
  * full-snapshot commit makes the nightly write cost O(corpus)).
  *
  * Layout:
  *
  * {{{
  *   <root>/_seg00000001/part-*.parquet    immutable segment directories
  *   <root>/_seg00000002/part-*.parquet
  *   <root>/_manifest-00000002             text: one member dir name/line
  *   <root>/_LATEST_MANIFEST               text: committed manifest version
  * }}}
  *
  * A commit stages the new segment directory, then installs a NEW
  * manifest file listing all member directories (a few bytes per
  * segment) only if no file has its name ([[Commit.publish]]) — that
  * install IS the commit, and acts as a compare-and-swap between
  * concurrent writers: the loser's install fails, it recomputes the
  * member list from the winner's manifest and retries, so racing
  * appends/compactions never drop each other's segments (the log-file
  * commit discipline of lakehouse formats). The
  * `_LATEST_MANIFEST` pointer is a read fast-path rolled forward after
  * the commit; [[currentVersion]] takes the newest manifest as truth if
  * the pointer lags. A crashed writer leaves an orphan segment that no
  * manifest references (invisible; reclaimed by [[vacuum]]). Manifests
  * are themselves versioned, so time travel works the same way:
  * `read(asOfVersion = Some(v))` scans manifest v's members.
  *
  * The price of O(batch) appends is segment-count growth; [[compact]]
  * rewrites the table as one packed segment under a fresh manifest
  * (readers flip atomically, old segments stay readable until vacuum).
  *
  * Reference analog: the reference's loading-table + DB upsert keeps its
  * nightly write cost O(batch) because Postgres only writes the upserted
  * rows (`catalog/dags/common/loader/sql.py:264-332`); on a data lake the
  * equivalent primitive is exactly this append-a-segment manifest commit.
  */
object SegmentedTable {

  private val Pointer = "_LATEST_MANIFEST"

  private def manifestPath(root: String, v: Long): Path =
    new Path(root, f"_manifest-$v%08d")

  /** Committed manifest version, or None for a table with no manifest
    * (uninitialized, or a legacy [[VersionedTable]] layout — see
    * [[adopt]]).
    *
    * The COMMIT POINT is the manifest file's creation (see [[publish]]);
    * the pointer file is a read fast-path that a writer rolls forward
    * AFTER committing. A writer that crashed (or was beaten to the
    * pointer flip by a later committer) can leave the pointer lagging
    * the newest manifest — or, for a table's FIRST commit, absent
    * entirely — so the committed version is derived from the manifests
    * themselves (max numbered manifest), with the pointer only ever
    * able to confirm, never to hide. A lagging or missing pointer must
    * never hide a committed manifest: readers would report the table
    * uncommitted (exists/members/hasTag all false) and a streaming
    * replay guard would re-apply an already-committed batch.
    *
    * Both files are read through [[Commit.read]]: the pointer is swung
    * atomically and a manifest is installed complete, so a reader racing
    * a commit never finds either missing or partial.
    */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = Commit.fs(spark, root)
    val newest = maxNumbered(f, root, "_manifest-")
    val pointed = Commit.read(f, new Path(root, Pointer))
      .fold(0L)(_.trim.toLong)
    val v = math.max(newest, pointed)
    if (v == 0L) None else Some(v)
  }

  private def manifestLines(f: FileSystem, root: String,
      v: Long): Seq[String] =
    Commit.read(f, manifestPath(root, v)).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no manifest ${manifestPath(root, v)}"))
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Member segment directory NAMES of the committed (or as-of)
    * manifest, in commit order. `#`-prefixed lines are manifest
    * metadata (durable tags — see [[hasTag]]), not members.
    */
  def members(spark: SparkSession, root: String,
      asOfVersion: Option[Long] = None): Seq[String] = {
    val v = asOfVersion.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $root"))
    manifestLines(Commit.fs(spark, root), root, v)
      .filterNot(_.startsWith("#"))
  }

  /** The tag carried by a segment directory name, if any. */
  private def tagOfMember(name: String): Option[String] = {
    val i = name.indexOf('-')
    if (i < 0) None
    else Some(name.substring(i + 1))
      .filter(t => t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_'))
  }

  /** Read the committed snapshot: a union scan over the manifest's
    * member directories. Spark plans this as ONE multi-path parquet
    * scan, so pushdown/pruning/split-packing behave exactly as on a
    * single directory. Members of one table share a schema by
    * construction (every segment is written by the same expressions),
    * so [[Parquet.read]] takes it from the first member file's footer
    * and opening the table starts no Spark job.
    */
  def read(spark: SparkSession, root: String,
      asOfVersion: Option[Long] = None): DataFrame =
    Parquet.read(spark, memberPaths(spark, root, asOfVersion): _*)

  /** Rows of the committed (or as-of) snapshot [[read]] scans, from the
    * member files' footers ([[Parquet.rowCount]]): no Spark job.
    */
  def rowCount(spark: SparkSession, root: String,
      asOfVersion: Option[Long] = None): Long =
    Parquet.rowCount(spark, memberPaths(spark, root, asOfVersion): _*)

  private def memberPaths(spark: SparkSession, root: String,
      asOfVersion: Option[Long]): Seq[String] =
    members(spark, root, asOfVersion).map(m => new Path(root, m).toString)

  /** Merge-on-read for UPSERT semantics: the FIRST member is the base
    * snapshot; every later member is a delta of `keyCols`-keyed
    * overrides, later segments winning. This is the lakehouse answer to
    * state that mostly grows but occasionally REWRITES existing keys
    * (e.g. cluster labels when a batch bridges two old components): an
    * append commits only the changed rows — O(changed) bytes — and the
    * read folds them over the base.
    *
    * Plan shape: the base STREAMS through a broadcast anti-join against
    * the delta key set (never shuffled — the r13 corpus-labels trap);
    * latest-wins among deltas is a window over DELTA rows only. The
    * broadcast is sound because deltas-since-compaction are bounded by
    * the [[compactLatestWins]] cadence — the same contract lakehouse
    * merge-on-read tables document. Keys must be unique within each
    * segment (one override per key per commit), so a table with ONE
    * delta (a night since the last compaction) needs no window: the
    * delta is already latest-wins.
    */
  def readLatestWins(spark: SparkSession, root: String,
      keyCols: Seq[String], asOfVersion: Option[Long] = None): DataFrame =
    foldLatestWins(spark, root, members(spark, root, asOfVersion), keyCols)

  private def foldLatestWins(spark: SparkSession, root: String,
      ms: Seq[String], keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
    val paths = ms.map(m => new Path(root, m).toString)
    if (ms.lengthCompare(1) <= 0) Parquet.read(spark, paths: _*)
    else {
      val base = Parquet.read(spark, paths.head)
      val latest =
        if (paths.lengthCompare(2) == 0) Parquet.read(spark, paths(1))
        else {
          val deltas = paths.tail.zipWithIndex.map { case (p, i) =>
            Parquet.read(spark, p).withColumn("__seg_ord", lit(i))
          }.reduce(_.unionByName(_))
          val keep = row_number().over(Window.partitionBy(
            keyCols.map(col): _*).orderBy(col("__seg_ord").desc))
          deltas.withColumn("__rn", keep)
            .filter(col("__rn") === 1).drop("__seg_ord", "__rn")
        }
      base.join(broadcast(latest.select(keyCols.map(col): _*)),
          keyCols, "left_anti")
        .unionByName(latest.select(base.columns.map(col).toSeq: _*))
    }
  }

  private def maxNumbered(f: FileSystem, root: String,
      prefix: String): Long =
    Commit.numbered(f, new Path(root), prefix).map(_._1)
      .foldLeft(0L)(math.max)

  /** Publish the manifest produced by `build` (from the prior committed
    * member list) as the next version, with optimistic concurrency:
    * installing `_manifest-NNNNNNNN` only if it is absent
    * ([[Commit.publish]]) is the compare-and-swap — exactly one writer
    * can install a given version, so a loser recomputes `prior` from the
    * winner's manifest and retries, and NO committed segment is ever
    * dropped by a concurrent append (the lost-update failure mode of
    * read-members-then-write). The manifest is staged complete before
    * the install, so a crash mid-write can never leave a truncated
    * member list as the committed truth. The pointer file is then
    * swung forward ([[Commit.swing]]) as a read fast-path;
    * [[currentVersion]] treats the newest manifest as truth, so a crash
    * between the two leaves a committed, readable version.
    *
    * Durable tags: a tag rides its segment's directory name while the
    * segment is a member; when a successor manifest DROPS a tagged
    * member (compaction packed it away), the tag is carried forward as
    * a `#tag:` metadata line — so [[hasTag]]'s replay-guard answer
    * survives compaction, and a crashed streaming batch cannot be
    * double-applied just because maintenance ran in between.
    */
  private def publish(spark: SparkSession, root: String,
      build: Seq[String] => Seq[String]): Long = {
    val f = Commit.fs(spark, root)
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root).getOrElse(0L)
      val priorLines =
        if (cur == 0L) Seq.empty[String]
        else manifestLines(f, root, cur)
      val prior = priorLines.filterNot(_.startsWith("#"))
      val nextMembers = build(prior)
      val priorTagLines = priorLines.filter(_.startsWith("#tag:"))
      val droppedTagLines = prior.filterNot(nextMembers.contains)
        .flatMap(tagOfMember).map(t => s"#tag:$t")
      val content = ((priorTagLines ++ droppedTagLines).distinct
        ++ nextMembers).mkString("\n")
      val next = cur + 1L
      if (Commit.publish(f, manifestPath(root, next), content)) {
        // roll the read fast-path forward; failure here is benign (the
        // manifest IS the commit, and the next publish heals the lag)
        try Commit.swing(f, new Path(root, Pointer), next.toString)
        catch { case scala.util.control.NonFatal(_) => () }
        return next
      }
      attempt += 1
      if (attempt > 1000) throw new IllegalStateException(
        s"manifest commit livelock after $attempt attempts at $root")
      Thread.sleep(5)
    }
    0L // unreachable
  }

  /** Stage `df` as a new segment directory (skipping past orphans) and
    * return its name — NOT yet visible to readers. An optional tag
    * becomes a `-tag` suffix on the directory name, queryable via
    * [[hasTag]].
    */
  private def stageSegment(df: DataFrame, root: String,
      tag: Option[String] = None): String = {
    val spark = df.sparkSession
    val f = Commit.fs(spark, root)
    val n = maxNumbered(f, root, "_seg") + 1L
    val suffix = tag.map { t =>
      require(t.nonEmpty && t.forall(c => c.isLetterOrDigit || c == '_'),
        s"segment tag must be [A-Za-z0-9_]+: '$t'")
      s"-$t"
    }.getOrElse("")
    val name = f"_seg$n%08d$suffix"
    df.write.mode("errorifexists")
      .parquet(new Path(root, name).toString)
    name
  }

  /** True if a COMMITTED segment carries `tag` — the replay guard for
    * idempotent appends: a writer that tags each append with its batch
    * id can detect, after a crash-and-retry, that this table already
    * holds the batch (exactly-once folding for streaming sinks).
    */
  def hasTag(spark: SparkSession, root: String, tag: String): Boolean =
    currentVersion(spark, root).exists { v =>
      val lines = manifestLines(Commit.fs(spark, root), root, v)
      lines.contains(s"#tag:$tag") ||
        lines.filterNot(_.startsWith("#"))
          .flatMap(tagOfMember).contains(tag)
    }

  /** Initialize (or REPLACE — compaction's primitive) the table with
    * `df` as its single segment.
    */
  def commitFull(df: DataFrame, root: String): Long = {
    val name = stageSegment(df, root)
    publish(df.sparkSession, root, _ => Seq(name))
  }

  /** The O(batch) append: write ONLY `df`'s rows as a new segment, then
    * publish a manifest of old members + the new segment. Bytes written
    * scale with `df`, never with the table. Concurrency-safe: the
    * member list is recomputed inside [[publish]]'s CAS loop, so an
    * append racing another append (or a compaction) folds its segment
    * into whatever manifest actually won.
    */
  def appendSegment(df: DataFrame, root: String,
      tag: Option[String] = None): Long = {
    val name = stageSegment(df, root, tag)
    publish(df.sparkSession, root, _ :+ name)
  }

  /** Upgrade a legacy [[VersionedTable]] layout in place: publish a
    * manifest whose sole member is the table's committed `_vNNNNNNNN`
    * directory — zero data rewritten, and the next [[appendSegment]]
    * grows it delta-style. No-op if a manifest already exists.
    */
  def adopt(spark: SparkSession, root: String): Long =
    currentVersion(spark, root).getOrElse {
      val v = VersionedTable.currentVersion(spark, root).getOrElse(
        throw new IllegalStateException(
          s"cannot adopt $root: no VersionedTable commit to adopt"))
      publish(spark, root, _ => Seq(f"_v$v%08d"))
    }

  /** Rewrite the table as ONE segment with `pack` applied (file-count
    * control) and publish it as the next manifest — the segment-growth
    * antidote. Readers flip atomically; superseded segments remain
    * until [[vacuum]]. Concurrency-safe like lakehouse OPTIMIZE: the
    * successor manifest keeps any segment committed AFTER the snapshot
    * this compaction read (publish's CAS recomputes `prior`), so a
    * racing append is folded in, never dropped.
    */
  def compact(spark: SparkSession, root: String,
      pack: DataFrame => DataFrame = identity): Long =
    compactWith(spark, root, pack,
      ms => Parquet.read(spark, ms.map(m => new Path(root, m).toString): _*))

  /** [[compact]] for a latest-wins table: the packed segment is the
    * FOLDED state ([[readLatestWins]]), so superseded override rows are
    * physically dropped and the table returns to a single base segment.
    * A delta appended concurrently with this compaction survives as a
    * delta OVER the new base (publish's CAS keeps it after the packed
    * member) — still correct under merge-on-read.
    */
  def compactLatestWins(spark: SparkSession, root: String,
      keyCols: Seq[String], pack: DataFrame => DataFrame = identity): Long =
    compactWith(spark, root, pack, foldLatestWins(spark, root, _, keyCols))

  private def compactWith(spark: SparkSession, root: String,
      pack: DataFrame => DataFrame,
      readSnapshot: Seq[String] => DataFrame): Long = {
    val packed = members(spark, root) // the snapshot being rewritten
    val name = stageSegment(pack(readSnapshot(packed)), root)
    val packedSet = packed.toSet
    publish(spark, root,
      prior => name +: prior.filterNot(packedSet.contains))
  }

  /** Delete segment directories and manifests not reachable from the
    * newest `keepManifests` manifest versions. Orphaned (crashed-writer)
    * segments newer than the current pointer are kept, mirroring
    * [[VersionedTable.vacuum]]'s concurrent-writer caution.
    *
    * Unreferenced segments are additionally retained for `graceMs`
    * after their last modification: a segment's NUMBER alone cannot
    * prove it dead, because a concurrent writer can stage `_segN` and
    * then lose the staging race to a writer that stages AND commits
    * `_segN+1` — the staged-but-unpublished `_segN` is now below the
    * committed high-water mark while its owner is still about to
    * publish it. The mtime grace window keeps such in-flight segments
    * alive; only directories both unreferenced and quiescent past the
    * window are reclaimed (true crash orphans and compacted-away
    * members, which by definition stopped changing long ago).
    */
  def vacuum(spark: SparkSession, root: String,
      keepManifests: Int = 2,
      graceMs: Long = 15L * 60L * 1000L): Unit = {
    val f = Commit.fs(spark, root)
    currentVersion(spark, root).foreach { cur =>
      val keptVersions = (math.max(1L, cur - keepManifests + 1L) to cur)
      val live = keptVersions.flatMap(v =>
        scala.util.Try(members(spark, root, Some(v))).toOption
          .getOrElse(Seq.empty)).toSet
      // a segment numbered above every committed segment may be a
      // concurrent writer's staged-but-unpublished data — keep it; one
      // below the committed high-water mark that no kept manifest
      // references is dead ONLY once it has also been quiet for the
      // grace window (see scaladoc: staged segments can be undercut)
      val maxLiveSeg = live.flatMap(n => Commit.numberOf(n, "_seg"))
        .foldLeft(0L)(math.max)
      val deadline = System.currentTimeMillis() - graceMs
      f.listStatus(new Path(root)).toSeq.foreach { st =>
        val p = st.getPath
        val n = p.getName
        val isDeadSegment = !live.contains(n) &&
          st.getModificationTime < deadline && (
          n.startsWith("_v") ||
          Commit.numberOf(n, "_seg").exists(_ < maxLiveSeg))
        // only manifests strictly OLDER than the retention window are
        // dead: one numbered above `cur` is a concurrent writer's
        // commit racing this vacuum — deleting it would revoke a
        // committed version
        val isDeadManifest = Commit.numberOf(n, "_manifest-")
          .exists(v => v < keptVersions.head)
        if (isDeadSegment || isDeadManifest) f.delete(p, true)
      }
    }
  }
}
