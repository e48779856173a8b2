package org.apache.spark.sql.graftbridge

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.SparkSession

/** Access to the listener bus and the RDD operation scopes, which Spark
  * keeps package-private.
  */
object ListenerBridge {
  /** Block until every event posted so far has reached the listeners —
    * a listener that reads stage metrics after a job returns must wait
    * for this, since late stage events arrive asynchronously.
    */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The plan operator that built a stage's own RDD — `Exchange`,
    * `WholeStageCodegen (3)` — or None for an RDD built outside any
    * operation scope.
    */
  def scopeName(stage: StageInfo): Option[String] =
    stage.rddInfos.headOption.flatMap(_.scope).map(_.name)
}
