package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json
  * lists the same names (a spec keeps the two in step).
  */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s",
    "rss_peak_mb" -> "MB")

  /** Layer spans timed by self time, reported as `<span>_s`. */
  val spanTimes: Seq[String] = Seq(
    "sources.tsv_write", "sources.tsv_read", "sources.commit",
    "sources.vacuum", "sources.compact",
    "operators.clean", "operators.dedupe", "operators.url_conflict",
    "operators.merge", "operators.popularity",
    "operators.minhash", "operators.candidates", "operators.verify",
    "operators.components",
    "metrics.funnel",
    "streaming.fold",
    "inat.transform") ++ queryPacks.map("queries." + _)

  lazy val queryPacks: Seq[String] = Seq("relational", "cleaning", "dedupe",
    "similarity", "text", "enrichment", "event", "load", "popularity",
    "sampling", "maintenance")

  /** Spans whose executor CPU is reported on its own: where codegen'd
    * expression work (the `functions` module) and merges run.
    */
  val cpuSpans: Seq[String] = Seq("operators.clean", "operators.merge",
    "operators.popularity", "operators.minhash", "inat.transform")

  val counts: Seq[(String, String)] = Seq(
    "sources.bytes_written" -> "bytes", "sources.files_written" -> "count",
    "sources.compact_bytes_rewritten" -> "bytes",
    "sources.segments_live" -> "count",
    "sources.stored_bytes_per_input_byte" -> "ratio",
    "operators.candidate_pairs" -> "count", "operators.verified_pairs" -> "count",
    "operators.candidate_precision" -> "ratio",
    "metrics.staged_rows" -> "count", "metrics.missing_rows" -> "count",
    "metrics.fid_dup_rows" -> "count", "metrics.url_dup_rows" -> "count",
    "metrics.upserted_rows" -> "count", "metrics.upserted_ratio" -> "ratio",
    "streaming.replays_skipped" -> "count",
    "inat.rows" -> "count",
    "queries.jobs_p50" -> "count")

  val spark: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.jobs_per_op" -> "count", "spark.task_failures" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.sched_gap_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_records" -> "count",
    "spark.result_bytes" -> "bytes") ++
    Attribution.modules.flatMap(m =>
      Seq(s"spark.jobs.$m" -> "count", s"spark.cpu_s.$m" -> "s")) ++
    cpuSpans.map(s => s"spark.cpu_s.in.$s" -> "s") :+
    ("spark.shuffle_write_bytes.in.operators.candidates" -> "bytes")

  val trace: Seq[(String, String)] = Seq(
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s",
    "trace.overhead_s" -> "s", "trace.self_sum_s" -> "s")

  val perLayer: Seq[(String, String)] =
    spark ++ spanTimes.map(s => s"${s}_s" -> "s") ++ counts ++ trace

  /** Per-layer metrics of one traced round.
    *
    * @param spans the round's spans; its root span is the round
    * @param probe Spark work charged to those spans
    * @param round what the round did, with its checks' counts added
    * @param untracedWall wall seconds of the same round untraced
    */
  def perLayerValues(spans: Seq[Span], probe: SparkProbe, round: Round,
      untracedWall: Double, cores: Int): Map[String, Double] = {
    val root = spans.find(_.parent == -1).getOrElse(
      throw new IllegalStateException("traced round has no root span"))
    val wall = root.seconds
    val bySpan = probe.bySpan
    val modules = probe.byModule
    val total = modules.values.foldLeft(Work.zero)(_ + _)
    def workIn(name: String): Work =
      spans.filter(_.name == name).map(s => bySpan.getOrElse(s.id, Work.zero))
        .foldLeft(Work.zero)(_ + _)
    val ops = spans.filter(_.parent == root.id)
    val tasks = probe.tasks
    val schedGap = ops.map { op =>
      val clipped = tasks.map { case (s, e) =>
        (math.max(s, op.startNs), math.min(e, op.endNs)) }
      (op.endNs - op.startNs - Spans.covered(clipped)) / 1e9
    }.sum
    val self = Spans.selfByName(spans)
    val attr = (a: String, p: Span => Boolean) =>
      spans.filter(p).flatMap(_.attrs.get(a)).sum
    val queryJobs = ops.filter(_.layer == "queries")
      .map(s => bySpan.getOrElse(s.id, Work.zero).jobs.toDouble)
    val c = round.counts.withDefaultValue(0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

    val sparkValues = Map(
      "spark.jobs" -> total.jobs.toDouble, "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.jobs_per_op" -> ratio(total.jobs, round.ops.size),
      "spark.task_failures" -> total.taskFailures.toDouble,
      "spark.executor_cpu_s" -> total.cpuNs / 1e9,
      "spark.executor_run_s" -> total.runMs / 1e3,
      "spark.gc_s" -> total.gcMs / 1e3,
      "spark.sched_gap_s" -> schedGap,
      "spark.cpu_util" -> ratio(total.cpuNs / 1e9, wall * cores),
      "spark.shuffle_write_bytes" -> total.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> total.shuffleRead.toDouble,
      "spark.spill_bytes" -> total.spill.toDouble,
      "spark.input_records" -> total.inputRecords.toDouble,
      "spark.result_bytes" -> total.resultBytes.toDouble) ++
      Attribution.modules.flatMap { m =>
        val w = modules.getOrElse(m, Work.zero)
        Seq(s"spark.jobs.$m" -> w.jobs.toDouble, s"spark.cpu_s.$m" -> w.cpuNs / 1e9)
      } ++
      cpuSpans.map(s => s"spark.cpu_s.in.$s" -> workIn(s).cpuNs / 1e9) +
      ("spark.shuffle_write_bytes.in.operators.candidates" ->
        workIn("operators.candidates").shuffleWrite.toDouble)

    val countValues = Map(
      "sources.bytes_written" -> attr("bytes_written", _ => true),
      "sources.files_written" -> attr("files_written", _ => true),
      "sources.compact_bytes_rewritten" ->
        attr("bytes_written", _.name == "sources.compact"),
      "sources.segments_live" -> c("sources.segments_live"),
      "sources.stored_bytes_per_input_byte" ->
        ratio(c("sources.stored_bytes"), c("sources.input_bytes")),
      "operators.candidate_pairs" -> c("operators.candidate_pairs"),
      "operators.verified_pairs" -> c("operators.verified_pairs"),
      "operators.candidate_precision" ->
        ratio(c("operators.verified_pairs"), c("operators.candidate_pairs")),
      "metrics.upserted_ratio" ->
        ratio(c("metrics.upserted_rows"), c("metrics.staged_rows")),
      "streaming.replays_skipped" -> c("streaming.replays_skipped"),
      "inat.rows" -> c("inat.rows"),
      "queries.jobs_p50" -> (if (queryJobs.isEmpty) 0.0 else Stats.median(queryJobs))) ++
      Seq("staged_rows", "missing_rows", "fid_dup_rows", "url_dup_rows",
        "upserted_rows").map(k => s"metrics.$k" -> c(s"metrics.$k"))

    sparkValues ++ countValues ++
      spanTimes.map(s => s"${s}_s" -> self.getOrElse(s, 0.0)) ++ Map(
        "trace.wall_s" -> wall, "trace.untraced_wall_s" -> untracedWall,
        "trace.overhead_s" -> (wall - untracedWall),
        "trace.self_sum_s" -> {
          val selfById = Spans.selfSeconds(spans)
          spans.filter(_.layer != "bench").map(s => selfById(s.id)).sum
        })
  }
}
