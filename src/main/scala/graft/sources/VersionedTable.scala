package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.MergeUpsert

/** Hand-rolled transactional table (SURVEY §2.3 J6's write side — the
  * reference's loader upserts into Postgres, whose transaction gives
  * readers an atomic flip between batch loads; `loader/sql.py:228-332`).
  *
  * On a data lake the equivalent is a versioned directory layout with a
  * pointer-file commit:
  *
  * {{{
  *   <root>/_v00000001/part-*.parquet     immutable version directories
  *   <root>/_v00000002/part-*.parquet
  *   <root>/_LATEST                       text file: committed version
  * }}}
  *
  * Writers stage a complete new version directory, then publish it by
  * atomically replacing `_LATEST` ([[Commit.swing]]). Readers resolve
  * `_LATEST` once per query plan, so they only ever see fully-written
  * versions — a reader mid-query keeps scanning its already-resolved
  * directory regardless of concurrent commits. Single writer at a time
  * (the reference's Airflow DAGs serialize loads per table the same
  * way; [[Commit.withWriterLock]] makes a second writer fail fast);
  * stale uncommitted version dirs from crashed writers are invisible
  * and reclaimed by [[vacuum]].
  *
  * This is deliberately the minimal subset of a Delta-style log the
  * engine needs: linear versions, atomic publish, time travel to any
  * retained version. No dependency beyond Hadoop's FileSystem API and
  * java.nio ([[Commit]]).
  */
object VersionedTable {

  private val Pointer = "_LATEST"

  private def versionDir(root: String, v: Long): Path =
    new Path(root, f"_v$v%08d")

  /** Committed version, or None for an empty/uninitialized table. The
    * pointer is read once ([[Commit.read]]): it is swung atomically, so
    * a table that has committed always has one.
    */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    Commit.read(Commit.fs(spark, root), new Path(root, Pointer))
      .map(_.trim.toLong)

  /** Read the committed snapshot (optionally a retained past version —
    * time travel) through [[Parquet.read]]: the schema comes from one
    * part file's footer, so opening the table starts no Spark job.
    */
  def read(spark: SparkSession, root: String,
      asOfVersion: Option[Long] = None): DataFrame = {
    val v = asOfVersion.orElse(currentVersion(spark, root)).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    Parquet.read(spark, versionDir(root, v).toString)
  }

  /** Version directories present (committed or orphaned). */
  private def versionDirs(f: FileSystem, root: String): Seq[(Long, Path)] =
    Commit.numbered(f, new Path(root), "_v")
      .collect { case (v, s) if s.isDirectory => (v, s.getPath) }

  /** Stage `df` as the next version and atomically publish it.
    * Returns the committed version number. The next version skips past
    * any orphaned (crashed-writer) directories so they can never block
    * future commits. The publish is [[Commit.swing]] of `_LATEST`: a
    * concurrent reader sees the old pointer or the new one, never a
    * missing or partial pointer.
    */
  def commit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val f = Commit.fs(spark, root)
    val next = (currentVersion(spark, root).getOrElse(0L) +:
      versionDirs(f, root).map(_._1)).max + 1L
    df.write.mode("errorifexists").parquet(versionDir(root, next).toString)
    Commit.swing(f, new Path(root, Pointer), next.toString)
    next
  }

  /** The MERGE transaction: current snapshot + staged batch through the
    * full-outer-join merge (per-column strategies), committed as a new
    * version. Readers flip atomically from v to v+1; a crash before the
    * pointer flip leaves the table at v with an orphan directory.
    */
  def mergeInto(spark: SparkSession, root: String, staged: DataFrame,
      keys: Seq[String],
      strategies: Map[String, (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column] =
        Map.empty): Long = {
    val merged = currentVersion(spark, root) match {
      case None => staged
      case Some(_) =>
        MergeUpsert.merge(read(spark, root), staged, keys, strategies)
    }
    commit(merged, root)
  }

  /** Drop retired version directories, keeping the newest `keep`
    * committed versions plus any orphans newer than the pointer (a
    * concurrent staged-but-unpublished write must not be deleted).
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    val f = Commit.fs(spark, root)
    currentVersion(spark, root).foreach { cur =>
      versionDirs(f, root).filter(_._1 <= cur - keep)
        .foreach { case (_, p) => f.delete(p, true) }
    }
  }
}
