package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBridge {
  /** Block until every event posted so far has reached the listeners —
    * a listener that reads stage metrics after a job returns must wait
    * for this, since late stage events arrive asynchronously.
    */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
