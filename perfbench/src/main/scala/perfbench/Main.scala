package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Runs one workload and prints its metrics as bare JSON lines, the
  * last one the summary. Launched by run.py, which builds the classes
  * and passes the process start time:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --t0-ms <epoch ms> --data <dir> --work <dir> --out <dir>
  * }}}
  *
  * Set-up builds the workload's state and runs its untimed warm-up
  * rounds on it. Untraced (`--trace 0`): the workload's minimum of
  * rounds then runs, and more while their timed sections add up to less
  * than `--seconds`; the end-to-end metrics are printed. Traced
  * (`--trace 1`): the next round runs untraced, then the one after it
  * traced (spans and the Spark listener on); the per-layer metrics are
  * printed and the spans written to `--out`. Exits 1 when any output
  * check fails.
  */
object Main {

  /** Spark's local threads. Two leave the rest of a small machine to
    * the JIT, the GC and the driver, so a round measures the engine and
    * not the scheduler; at these input sizes two were also faster than
    * four.
    */
  val Cores = 2

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    if (i < 0 || i + 1 >= args.length)
      throw new IllegalArgumentException(s"missing --$key")
    args(i + 1)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    """VmHWM:\s+(\d+)\s+kB""".r.findFirstMatchIn(status)
      .map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val workload = Workload.named(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val t0Ms = arg(args, "t0-ms").toLong
    val work = arg(args, "work")
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val spark = session(cores, work)
    val sessionUp = (System.currentTimeMillis() - t0Ms) / 1e3
    val ctx = Ctx(spark, seed, arg(args, "data"), work, cores)
    val out = new Output(workload.name, seed)

    // set-up: the state is built, then the warm-up rounds run on it
    val warm = workload.warmUpRounds
    val (prepared, prepareS) = Workload.timed {
      val p = workload.prepare(ctx)
      (0 until warm).foreach { i =>
        val (r, s) = Workload.timed(p.round(i, Tracer.off))
        log(f"warm-up round ${i + 1}: $s%.2f s (${r.seconds}%.2f s timed)")
      }
      p
    }
    log(f"session up $sessionUp%.2f s, prepare and warm-up $prepareS%.2f s")
    val problems = ArrayBuffer.empty[String]

    if (!traced) {
      val rounds = ArrayBuffer.empty[Round]
      while (warm + rounds.size < workload.maxRounds &&
          (rounds.size < workload.minRounds || rounds.map(_.seconds).sum < seconds)) {
        val r = prepared.round(warm + rounds.size, Tracer.off)
        rounds += r
        log(f"round ${rounds.size}: ${r.seconds}%.2f s, ops " +
          r.ops.map(_.seconds.fold("failed")(s => f"$s%.2f")).mkString(" "))
      }
      val (checked, checkS) = Workload.timed(prepared.check())
      log(f"check $checkS%.2f s")
      problems ++= checked.problems
      val walls = rounds.map(_.seconds).toSeq
      val ops = rounds.flatMap(_.ops).toSeq
      val outcome = Outcome(ops.size, ops.count(checked.failed))
      val latencies = Stats.withFailures(
        ops.map(o => if (checked.failed(o)) None else o.seconds))
      out.metric("setup_s", "s", sessionUp + prepareS)
      val wall = Stats.medianRound(rounds.map(_.ops).toSeq)
      out.metric("wall_s", "s", wall)
      out.metric("rows_per_s", "1/s", rounds.map(_.rows).sum.toDouble / rounds.size / wall)
      out.metric("rss_peak_mb", "MB", rssPeakMb())
      out.extra("op_p50_s", "s", Stats.median(latencies))
      out.extra("failed_frac", "ratio", outcome.failedFrac)
      out.extra("rounds", "count", walls.size)
      out.extra("ops", "count", ops.size)
      Stats.tailPercentile(latencies.size).foreach(p =>
        out.extra(s"op_p${p}_s", "s", Stats.percentile(latencies, p)))
      out.summary(problems.isEmpty && outcome.failed == 0, outcome)
    } else {
      // the next round untraced, then the one after it traced
      val untracedWall = prepared.round(warm, Tracer.off).seconds
      val sc = spark.sparkContext
      val tracer = new Tracer(true, s"${workload.name}-seed$seed",
        id => sc.setLocalProperty(Tracer.SpanKey, if (id < 0) null else id.toString))
      val probe = SparkProbe.attach(sc, tracer.layerOf)
      val r = tracer.span("bench.round")(prepared.round(warm + 1, tracer))
      SparkProbe.drain(sc)
      sc.removeSparkListener(probe)
      val checked = prepared.check()
      problems ++= checked.problems
      val counts = r.counts ++ checked.counts
      val values = Metrics.perLayerValues(tracer.spans, probe, r.copy(counts = counts),
        untracedWall, cores)
      Metrics.perLayer.foreach { case (n, u) => out.metric(n, u, values(n)) }
      out.spans(arg(args, "out"), tracer.spans)
      out.summary(problems.isEmpty, Outcome(r.ops.size, r.ops.count(checked.failed)))
    }
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    spark.stop()
    if (problems.nonEmpty) sys.exit(1)
  }
}

/** Writes metric lines and the summary to stdout as bare JSON. Every
  * metric line carries the workload and seed; the summary has exactly
  * the keys `correct`, `attempted`, `failed` and `metrics`.
  */
final class Output(workload: String, seed: Long) {
  private val metrics = ArrayBuffer.empty[(String, String, Double)]

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def line(name: String, unit: String, v: Double): Unit =
    println(s"""{"name":"$name","unit":"$unit","value":${num(v)},""" +
      s""""workload":"$workload","seed":$seed}""")

  /** A metric of the summary. */
  def metric(name: String, unit: String, v: Double): Unit = {
    metrics += ((name, unit, v))
    line(name, unit, v)
  }

  /** A metric printed on its own line only. */
  def extra(name: String, unit: String, v: Double): Unit = line(name, unit, v)

  def summary(correct: Boolean, o: Outcome): Unit = {
    val ms = metrics.map { case (n, u, v) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":{$ms}}""")
  }

  /** Write the spans of a traced run, one JSON object a line. */
  def spans(dir: String, spans: Seq[Span]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val text = spans.sortBy(_.startNs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      s"""{"run":"${s.run}","seed":$seed,"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""attrs":{$attrs}}"""
    }.mkString("", "\n", "\n")
    Files.write(Paths.get(dir, s"spans-$workload-seed$seed.jsonl"),
      text.getBytes(StandardCharsets.UTF_8))
  }
}
