package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The one session factory carries the configs the engine's semantics
  * hang on; the shared spec session is built by it.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession applies the engine's session configs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    // Spark's defaults, resolved: an upgrade that moves either fails here
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") ==
      "true")
    assert(JavaUtils.byteStringAsBytes(
      conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")) ==
      64L * 1024 * 1024)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("GraftSession reads the events table's nanosecond timestamps") {
    val events = Tables(spark, sfDir, "events")
    assert(events.schema("ts").dataType == TimestampType)
    val r = events.agg(count(lit(1)), count(col("ts")), min(col("ts"))).head()
    assert(r.getLong(0) > 0 && r.getLong(1) == r.getLong(0))
    assert(r.getTimestamp(2).toInstant.getEpochSecond > 0)
  }
}
