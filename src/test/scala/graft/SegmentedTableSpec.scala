package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.operators.SignatureStore
import graft.sources.{Parquet, SegmentedTable}

/** Merge-on-read and compaction of segmented tables: the latest-wins
  * read skips its window when one delta is live, and the signature
  * store's compaction sizes its files from parquet footers.
  */
class SegmentedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Latest-wins over every member by a row_number window across all
    * deltas, whatever their number — the reference fold.
    */
  private def windowedFold(root: String): DataFrame = {
    val paths = SegmentedTable.members(spark, root).map(m => s"$root/$m")
    val base = Parquet.read(spark, paths.head)
    val latest = paths.tail.zipWithIndex
      .map { case (p, i) => Parquet.read(spark, p).withColumn("ord", lit(i)) }
      .reduce(_.unionByName(_))
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("ord").desc)))
      .filter(col("rn") === 1).drop("ord", "rn")
    base.join(latest.select("k"), Seq("k"), "left_anti").unionByName(latest)
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.as[(Long, String)].collect().toSeq.sorted

  test("readLatestWins equals the windowed fold with one and three " +
      "deltas, a key overridden twice included") {
    val root = tmp("seg_lw") + "/t"
    SegmentedTable.commitFull(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), root)
    SegmentedTable.appendSegment(Seq((2L, "b1"), (4L, "d")).toDF("k", "v"),
      root)
    val one = SegmentedTable.readLatestWins(spark, root, Seq("k"))
    assert(rows(one) == rows(windowedFold(root)))
    assert(rows(one) == Seq(1L -> "a", 2L -> "b1", 3L -> "c", 4L -> "d"))
    SegmentedTable.appendSegment(Seq((2L, "b2"), (3L, "c1")).toDF("k", "v"),
      root)
    SegmentedTable.appendSegment(Seq((3L, "c2"), (5L, "e")).toDF("k", "v"),
      root)
    val three = SegmentedTable.readLatestWins(spark, root, Seq("k"))
    assert(rows(three) == rows(windowedFold(root)))
    assert(rows(three) == Seq(1L -> "a", 2L -> "b2", 3L -> "c2",
      4L -> "d", 5L -> "e"))
  }

  /** The call sites of every SQL action and job `f` starts. */
  private def actions(f: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.description)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(js.stageInfos.maxBy(_.stageId).name)
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { f; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("SignatureStore.compact starts no counting job and packs each " +
      "table from its footer row counts") {
    val docs = Tables(spark, sfDir, "documents")
    val root = tmp("seg_compact")
    SignatureStore.build(spark, root, docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", 3, 16, 4, 0.5)
    SignatureStore.foldNight(spark, root,
      docs.filter(col("doc_id") % 2 === 1), docs, "doc_id", "text",
      3, 16, 4, 0.5)
    val tables = Seq(SignatureStore.sigsRoot(root),
      SignatureStore.bandsRoot(root), SignatureStore.labelsRoot(root))
    assert(tables.forall(SegmentedTable.members(spark, _).size == 2))
    val sigRows = SegmentedTable.read(spark, tables.head).count()
    assert(SegmentedTable.rowCount(spark, tables.head) == sigRows)
    val labelsBefore = SignatureStore.readLabels(spark, root)
      .as[(Long, Long)].collect().toSet

    val started = actions(SignatureStore.compact(spark, root, 16, 4))
    assert(started.nonEmpty)
    assert(!started.exists(_.startsWith("count at")), started.mkString("; "))

    // the AUTO packing the counted sizing gave: ceil(rows / 50k) files,
    // 1..64, signature rows for sigs and labels, band rows for bands
    def packed(rows: Long): Long = math.max(1L, math.min(64L,
      (rows + SignatureStore.autoRowsPerFile - 1) /
        SignatureStore.autoRowsPerFile))
    tables.zip(Seq(sigRows, sigRows * 4, sigRows)).foreach { case (t, n) =>
      val Seq(m) = SegmentedTable.members(spark, t)
      val parts = new java.io.File(s"$t/$m").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts == packed(n), s"$t: $parts files")
    }
    assert(SignatureStore.readLabels(spark, root).as[(Long, Long)].collect()
      .toSet == labelsBefore)
  }
}
