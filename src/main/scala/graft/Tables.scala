package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Scale notes: each table is a single parquet file locally, but the
  * loader goes through [[graft.sources.Parquet.read]], which accepts a
  * file, a directory of part files or a partitioned directory alike, so
  * on a real cluster the same path can be a partitioned directory;
  * Catalyst handles column pruning + predicate pushdown into the scan
  * (verify with `.explain("formatted")` → `PushedFilters`/`ReadSchema`).
  * The schema comes from one file's footer on the driver, so loading a
  * table starts no Spark job: a query's first job is its own work.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.sources.Parquet.read(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize `ts` to a session-time TIMESTAMP regardless of how the
    * generator physically encoded it. The testdata generator has shipped
    * events.ts as parquet TIMESTAMP(NANOS) (read as a raw long under
    * spark.sql.legacy.parquet.nanosAsLong=true, set by every session
    * builder here) and as timestamp[us] isAdjustedToUTC=false (read as
    * TIMESTAMP_NTZ) — so branch on the type Spark actually read:
    *   - LongType (legacy nanos): `timestamp_micros(ts div 1000)`;
    *     integer `div` truncates like DuckDB's ns→us read path.
    *   - TIMESTAMP_NTZ: cast to TIMESTAMP. Every builder pins
    *     spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *     wall-clock value as UTC exactly — no offset applied.
    *   - TIMESTAMP: already what downstream `unix_micros` etc. expect.
    * Mirrors the reference's tolerant loader boundary
    * (catalog/dags/common/loader/sql.py:109-141 accepts both TSV
    * layout versions at its ingest edge).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
