package graft.ingest

import java.nio.file.{Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The runnable provider pull: plan → fetch → land → extract, end to
  * end. This is the binary the reference runs as its `pull_data` task
  * (provider_dag_factory.py wiring ingest_records, then the TSV load):
  *
  *   1. [[IngestPlanner.planDay]] splits the ingestion day into slices
  *      sized to the API's pagination ceiling;
  *   2. each slice pulls page-numbered batches through the rate-limited
  *      retried [[Fetcher.ingestRecords]] loop into one landing JSONL
  *      file per slice (the landing zone is the driver/engine boundary:
  *      everything below this line is distributed Spark);
  *   3. the landing directory is read as a text Dataset and the
  *      provider's extractor ([[ProviderExtract]]) projects normalized
  *      records, written as parquet.
  *
  * Failed slices accumulate (ST9) and report at the end — a partial
  * pull lands and extracts everything it could, like the reference's
  * commit-before-reraise.
  *
  * Usage (all args optional after the first two):
  *   FetchMain <baseUrl> <outDir> [day=YYYY-MM-DD] [estRecords=N]
  *             [maxPerSlice=N] [delayMs=N] [retries=N] [limit=N]
  */
object FetchMain {

  final case class SliceOutcome(slice: IngestPlanner.Slice,
      result: Fetcher.IngestResult)

  /** Plan the day and pull every slice; returns per-slice outcomes.
    * Pure driver-side — no Spark. The transport and gate are
    * parameters so the e2e spec drives a real localhost socket with a
    * tiny delay.
    */
  def pullDay(transport: Fetcher.Transport, gate: Fetcher.DelayGate,
      baseUrl: String, landingDir: Path, day: LocalDate,
      estRecords: Long, maxPerSlice: Long, retries: Int,
      limit: Long): Seq[SliceOutcome] = {
    val dayStart = day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val slices = IngestPlanner.planDay(dayStart, estRecords, maxPerSlice)
    slices.zipWithIndex.map { case (s, i) =>
      val params = Map(
        "min_upload_date" -> s.startSec.toString,
        "max_upload_date" -> s.endSec.toString,
        "per_page" -> "500")
      val file = landingDir.resolve(f"slice_$i%05d.jsonl")
      SliceOutcome(s,
        Fetcher.ingestRecords(transport, gate, baseUrl,
          Fetcher.pageNumberParams(params), Fetcher.flickrBatchCount,
          file, retries, limit))
    }
  }

  /** Spark side: landing JSONL → normalized records. One text scan of
    * the landing dir; the extractor is pure Column logic, so this is a
    * single distributed projection however many slices landed.
    */
  def extract(spark: SparkSession, landingDir: Path): DataFrame =
    ProviderExtract.flickrish(spark,
      spark.read.textFile(landingDir.toString + "/*.jsonl"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: FetchMain <baseUrl> <outDir> [day] [estRecords] " +
        "[maxPerSlice] [delayMs] [retries] [limit]")
    val baseUrl = args(0)
    val outDir = Paths.get(args(1))
    val day = if (args.length > 2) LocalDate.parse(args(2))
      else LocalDate.now(java.time.ZoneOffset.UTC).minusDays(1)
    val estRecords = if (args.length > 3) args(3).toLong else 1000L
    val maxPerSlice = if (args.length > 4) args(4).toLong else 100000L
    val delayMs = if (args.length > 5) args(5).toLong else 1000L
    val retries = if (args.length > 6) args(6).toInt else 2
    val limit = if (args.length > 7) args(7).toLong else Long.MaxValue

    val landingDir = outDir.resolve("landing")
    val outcomes = pullDay(Fetcher.httpTransport(), new Fetcher.DelayGate(delayMs),
      baseUrl, landingDir, day, estRecords, maxPerSlice, retries, limit)
    val requests = outcomes.map(_.result.requests).sum
    val records = outcomes.map(_.result.records).sum
    val skipped = outcomes.flatMap(_.result.skipped)
    println(s"FETCH slices=${outcomes.size} requests=$requests " +
      s"records=$records skipped=${skipped.size}")
    skipped.foreach(s => System.err.println(s"SKIPPED ${s.params}: ${s.error}"))

    val spark = graft.core.GraftSession(
      graft.core.GraftSession.envCpus("32"),
      Some(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
    try {
      val recs = extract(spark, landingDir)
      val parquetDir = outDir.resolve("records").toString
      recs.write.mode("overwrite").parquet(parquetDir)
      val extracted = graft.sources.Parquet.read(spark, parquetDir).count()
      println(s"EXTRACTED $extracted records -> $parquetDir")
      // a slice that failed every retry is an aggregate error AFTER the
      // commit, exactly like the reference's ingestion_errors re-raise
      if (skipped.nonEmpty)
        throw new RuntimeException(
          s"${skipped.size} slice batch(es) failed after retries")
    } finally spark.stop()
  }
}
