package graft.sources

import java.nio.charset.StandardCharsets

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
  * atomically replacing `_LATEST` (rename within one filesystem
  * directory). Readers resolve `_LATEST` once per query plan, so they
  * only ever see fully-written versions — a reader mid-query keeps
  * scanning its already-resolved directory regardless of concurrent
  * commits. Single writer at a time (the reference's Airflow DAGs
  * serialize loads per table the same way); stale uncommitted version
  * dirs from crashed writers are invisible and reclaimed by [[vacuum]].
  *
  * This is deliberately the minimal subset of a Delta-style log the
  * engine needs: linear versions, atomic publish, time travel to any
  * retained version. No dependency beyond Hadoop's FileSystem API.
  */
object VersionedTable {

  private val Pointer = "_LATEST"

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDir(root: String, v: Long): Path =
    new Path(root, f"_v$v%08d")

  /** Committed version, or None for an empty/uninitialized table. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val p = new Path(root, Pointer)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0),
          StandardCharsets.UTF_8).trim.toLong)
      } finally in.close()
    }
  }

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

  /** Highest version directory present (committed or orphaned). */
  private def maxStagedVersion(f: FileSystem, root: String): Long = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) 0L
    else f.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("_v").toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Stage `df` as the next version and atomically publish it.
    * Returns the committed version number. The next version skips past
    * any orphaned (crashed-writer) directories so they can never block
    * future commits.
    */
  def commit(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val next = math.max(currentVersion(spark, root).getOrElse(0L),
      maxStagedVersion(f, root)) + 1L
    val dir = versionDir(root, next)
    df.write.mode("errorifexists").parquet(dir.toString)
    // publish: write pointer to a temp name, then rename over _LATEST
    // with OVERWRITE — one atomic operation, so a concurrent reader
    // always sees either the old pointer or the new one, never a
    // missing-pointer window (a delete-then-rename pair would open one).
    // Rename within a directory is the atomic primitive on HDFS-like
    // filesystems; on S3 the pointer object PUT is itself atomic.
    val tmp = new Path(root, s".${Pointer}.tmp-$next")
    val out = f.create(tmp, true)
    try out.write(next.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(root, Pointer)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
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

  /** ST8 single-flight: at most one writer per table. The lock is an
    * atomically-created file (`create` with overwrite=false is the
    * mutual-exclusion primitive); a second writer fails fast instead of
    * queueing — the reference's single-run sensor semantics. The lock
    * carries its creation timestamp so an operator can judge staleness
    * after a crashed writer; [[mergeInto]]/[[commit]] themselves stay
    * lock-free (last-pointer-flip-wins) for callers that serialize
    * externally, matching how the reference leaves throttling to the
    * orchestrator.
    */
  def withWriterLock[T](spark: SparkSession, root: String)(f: => T): T = {
    val fsys = fs(spark, root)
    val lock = new Path(root, "_WRITER_LOCK")
    val out =
      try fsys.create(lock, false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(
          s"another writer holds the lock on $root")
      }
    try {
      out.write(System.currentTimeMillis().toString
        .getBytes(StandardCharsets.UTF_8))
      out.close()
      f
    } finally {
      fsys.delete(lock, false)
    }
  }

  /** Drop retired version directories, keeping the newest `keep`
    * committed versions plus any orphans newer than the pointer (a
    * concurrent staged-but-unpublished write must not be deleted).
    */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    val f = fs(spark, root)
    currentVersion(spark, root).foreach { cur =>
      val retired = f.listStatus(new Path(root)).toSeq
        .filter(_.isDirectory)
        .map(_.getPath)
        .flatMap { p =>
          val n = p.getName
          if (n.startsWith("_v")) scala.util.Try(n.drop(2).toLong).toOption
            .map(v => (v, p))
          else None
        }
        .filter { case (v, _) => v <= cur - keep }
      retired.foreach { case (_, p) => f.delete(p, true) }
    }
  }
}
