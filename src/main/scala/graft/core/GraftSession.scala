package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. The engine's semantics hang
  * on these configs, so every entry point (Bench, Verify, FetchMain,
  * the tools, the shared spec session) takes them from here instead of
  * carrying its own copy — and the verified plans are the benched plans.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the calling main's own default. */
  def envCpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A session on `local[cpus]` (or `master`, a deployment address)
    * with `cpus` shuffle partitions.
    */
  def apply(cpus: String, master: Option[String] = None): SparkSession = {
    // managed tables (saveAsTable) land in scratch, not the cwd; an
    // empty warehouse is removed at exit
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    warehouse.deleteOnExit()
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Postgres/Python-style cast semantics (malformed → null), matching
      // the reference's cleaning behavior; Spark 4 defaults ANSI on.
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS): read it as a long, which
      // Tables.apply converts to a μs timestamp (without this every
      // events read dies with PARQUET_TYPE_ILLEGAL)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE reduce-partition sizing stays at Spark's own defaults
      // (coalescePartitions.parallelismFirst=true, advisory 64 MB;
      // GraftSessionSpec pins both). parallelismFirst=false, the flip
      // Spark's config doc suggests for pure size-based coalescing, was
      // A/B-measured in r18 (quiet-gated ABAB, 8-query set,
      // plans/r18/AB_aqe_*.json) and LOST at this scale: +3.9% total,
      // q25 +17%, q100 +11% — MB-scale CPU-heavy reduce stages collapse
      // to 1-2 tasks at the 64 MB target and serialize, outweighing the
      // task-launch savings of the kilobyte stages.
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
