package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.StreamingIvf

/** The IVF maintenance loop as a streaming sink: micro-batches append
  * into the persisted index exactly once, the appended index answers
  * identically to a direct search over everything seen, periodic
  * compaction keeps cell file counts bounded, and every crash window
  * (mid-move replay, half-swapped compaction) heals on the next fold.
  */
class StreamingIvfSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private lazy val emb = Tables(spark, sfDir, "embeddings")
  private lazy val centroids = Similarity.kmeansCentroids(emb, "vec_id",
    "embedding", k = 8, iters = 2, dim = dim)

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  private def searchParity(path: String, seen: org.apache.spark.sql.DataFrame)
      : Unit = {
    val queries = seen.filter(col("vec_id") < 10)
    val viaIndex = Similarity.ivfTopKIndexed(spark, path, queries,
      centroids, "vec_id", "embedding", 10, nprobe = 4)
    val direct = Similarity.ivfTopK(queries, seen, centroids, "vec_id",
      "embedding", 10, nprobe = 4)
    assert(viaIndex.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaIndex).isEmpty)
  }

  private def cellFiles(path: String): Map[String, Int] = {
    // resolve the CURRENT version root: compaction installs packed
    // cells as a new version directory behind a pointer flip
    val root = new java.io.File(
      Similarity.currentIvfRoot(spark, path))
    root.listFiles().filter(f => f.isDirectory &&
        f.getName.startsWith("cell_id=")).map { d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap
  }

  test("micro-batches append exactly-once; compaction fires on " +
      "schedule; index equals direct search over everything seen") {
    val landing = tmp("sivf_land")
    val index = tmp("sivf_idx") + "/ix" // nonexistent leaf dir
    val chk = tmp("sivf_chk")
    def writeBatch(m: Int): Unit =
      emb.filter(col("vec_id") % 4 === m)
        .coalesce(1).write.mode("append").parquet(landing)
    writeBatch(0)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
    // compactEvery=4 -> batches 0..2 only fragment, batch 3 compacts
    val q = StreamingIvf.run(stream, index, centroids, chk,
      idCol = "vec_id", vecCol = "embedding", compactEvery = 4)
    try {
      q.processAllAvailable()
      writeBatch(1); q.processAllAvailable()
      writeBatch(2); q.processAllAvailable()
      val fragged = cellFiles(index)
      assert(fragged.values.exists(_ > 1),
        "three appends should fragment at least one cell")
      writeBatch(3); q.processAllAvailable()
      assert(cellFiles(index).values.forall(_ == 1),
        "the 4th fold should have compacted every cell")
    } finally q.stop()
    // every vector indexed exactly once, search parity with direct
    val idx = Similarity.readIvfIndex(spark, index)
    assert(idx.count() == emb.count())
    assert(idx.select("vec_id").distinct().count() == emb.count())
    searchParity(index, emb)

    // pure replay: marker committed -> fold refuses, nothing moves
    val replayed = StreamingIvf.foldBatch(spark, index, centroids,
      emb.filter(col("vec_id") % 4 === 3), batchId = 3,
      "vec_id", "embedding", compactEvery = 4, targetRowsPerFile = 500000L)
    assert(!replayed)
    assert(Similarity.readIvfIndex(spark, index).count() == emb.count())
  }

  test("streaming media blobs: real decode + embed inside the stream " +
      "feeds the exactly-once index; a duplicate payload retrieves " +
      "all indexed copies") {
    import graft.operators.Multimodal
    // 80 image blobs over 20 seed classes -> 4 byte-identical copies
    // each; micro-batch m = id % 4
    val blobs = spark.range(0, 80).as[Long].map(id =>
      Multimodal.MediaBlob(id, "image", Multimodal.syntheticPng(id % 20)))
    val vdim = 48
    val allEmb = Multimodal.embedImage(blobs).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    // frozen centroids, trained once offline (the index's contract)
    val cents = Similarity.kmeansCentroids(allEmb, "vec_id", "embedding",
      k = 4, iters = 2, dim = vdim)
    val landing = tmp("sivf_blob_land")
    val index = tmp("sivf_blob_idx") + "/ix"
    val chk = tmp("sivf_blob_chk")
    def writeBatch(m: Int): Unit =
      blobs.filter(_.id % 4 == m).toDF()
        .coalesce(1).write.mode("append").parquet(landing)
    writeBatch(0)
    // the decode + embed runs INSIDE the streaming frame: blob rows in,
    // vector rows out, one projection per micro-batch
    val blobStream = spark.readStream.schema(blobs.toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(landing)
      .as[Multimodal.MediaBlob]
    val vecStream = Multimodal.embedImage(blobStream).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    val q = StreamingIvf.run(vecStream, index, cents, chk,
      idCol = "vec_id", vecCol = "embedding", compactEvery = 4)
    try {
      q.processAllAvailable()
      (1 to 3).foreach { m => writeBatch(m); q.processAllAvailable() }
    } finally q.stop()
    // every blob embedded and indexed exactly once
    val idx = Similarity.readIvfIndex(spark, index)
    assert(idx.count() == 80 &&
      idx.select("vec_id").distinct().count() == 80)
    // a NEW duplicate payload (seed 7) retrieves all four indexed
    // copies through the streamed index — bytes -> decode -> embed ->
    // stream-append -> ANN, end to end real
    val qEmb = Multimodal.embedImage(Seq(Multimodal.MediaBlob(1000L,
        "image", Multimodal.syntheticPng(7L))).toDS()).toDF()
      .select(col("id").as("vec_id"), col("embedding"))
    val hits = Similarity.ivfTopKIndexed(spark, index, qEmb, cents,
      "vec_id", "embedding", 4, nprobe = 4)
    assert(hits.select("neighbor_id").as[Long].collect().toSet ==
      Set(7L, 27L, 47L, 67L))
  }

  test("crash mid-move replay scrubs the tag's partial files") {
    val index = tmp("sivf_crash") + "/ix"
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Similarity.writeIvfIndex(corpus, centroids, "vec_id", "embedding",
      index)
    // simulate a crash AFTER some of b7's files moved in but BEFORE
    // the marker committed: append under the tag, then delete the
    // marker and one cell's moved file is left as-is (all files
    // present, marker missing = the worst-case residue)
    assert(Similarity.appendToIvfIndexTagged(batch, centroids,
      "vec_id", "embedding", index, "b7"))
    val marker = new java.io.File(s"$index/_batch_tags/b7")
    assert(marker.exists()); assert(marker.delete())
    // the retry must scrub every -b7 file and land the batch once
    val refolded = StreamingIvf.foldBatch(spark, index, centroids,
      batch, batchId = 7, "vec_id", "embedding", compactEvery = 0,
      targetRowsPerFile = 500000L)
    assert(refolded)
    val idx = Similarity.readIvfIndex(spark, index)
    assert(idx.count() == emb.count(),
      "replay after crash-before-marker must not duplicate rows")
    searchParity(index, emb)
  }

  test("crash inside compaction's rename window heals on next fold") {
    val index = tmp("sivf_swap") + "/ix"
    Similarity.writeIvfIndex(emb, centroids, "vec_id", "embedding",
      index)
    // simulate the retire-but-not-install crash: stash a live cell
    val root = new java.io.File(index)
    val cell = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell_id="))
      .head
    val stash = new java.io.File(root, s".compact-old-${cell.getName}")
    assert(cell.renameTo(stash))
    val before = Similarity.readIvfIndex(spark, index).count()
    assert(before < emb.count(), "the stashed cell should be invisible")
    Similarity.recoverIvfCompaction(spark, index)
    assert(Similarity.readIvfIndex(spark, index).count() == emb.count())
    searchParity(index, emb)
    // and a stash ALONGSIDE a live dir (install done, cleanup lost)
    // is dropped, not restored over the live data
    val cell2 = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell_id="))
      .head
    val stale = new java.io.File(root, s".compact-old-${cell2.getName}")
    assert(stale.mkdirs())
    Similarity.recoverIvfCompaction(spark, index)
    assert(!stale.exists())
    assert(Similarity.readIvfIndex(spark, index).count() == emb.count())
  }
}
