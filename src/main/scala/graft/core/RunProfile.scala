package graft.core

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The Spark work one block of driver code started, summed over the
  * stages its jobs ran: what the tasks spent (executor CPU and run
  * time, GC) and moved (shuffle, spill, input records, result bytes),
  * with the block's code-generation compiles and one line per job (its
  * wall time and description) and per completed stage (its task
  * metrics), in event order.
  *
  * Executor CPU is the contention evidence a wall time lacks: a run
  * slowed by a co-tenant keeps its CPU seconds, a plan that does more
  * work does not.
  */
final case class RunProfile(jobs: Int, stages: Int, tasks: Int,
    cpuSec: Double, runSec: Double, gcSec: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputRecords: Long, resultBytes: Long, compiles: Long,
    lines: Seq[String]) {

  /** The numbers as comma-separated JSON fields (no braces). */
  def jsonFields: String =
    f""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_s":$cpuSec%.3f,""" +
      f""""run_s":$runSec%.3f,"gc_s":$gcSec%.3f,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_records":$inputRecords,"result_bytes":$resultBytes,""" +
      s""""compiles":$compiles"""
}

object RunProfile {
  private val blocks = new AtomicLong()

  /** `f`'s result and the profile of the Spark jobs it started.
    *
    * The block's jobs carry a job tag of its own, so a job another
    * thread starts meanwhile is not charged, and neither is a late
    * event of an earlier block. Threads the block starts inherit the
    * tag; a pool thread created earlier does not (engine code that
    * hands Spark work to a pool passes the caller's tags on). Compiles
    * count every Janino compilation in the JVM during `f`. The
    * listener is attached before `f` and drained after it, so a
    * caller that times `f`'s body times no profiling.
    */
  def apply[A](spark: SparkSession)(f: => A): (A, RunProfile) = {
    val sc = spark.sparkContext
    val tag = s"graft-run-profile-${blocks.incrementAndGet()}"
    val log = new Log(tag)
    sc.addSparkListener(log)
    sc.addJobTag(tag)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = f
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      ListenerBridge.drain(spark)
      (out, log.profile(compiles))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(log)
    }
  }

  /** Sums the stages of the jobs tagged `tag`. The listener bus calls
    * it from one thread; [[profile]] reads it from the caller's.
    */
  private final class Log(tag: String) extends SparkListener {
    private val starts = mutable.Map.empty[Int, (Long, String)]
    private val stageIds = mutable.Set.empty[Int]
    private val lines = mutable.ArrayBuffer.empty[String]
    private var stages, tasks = 0
    private var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill,
      inputRecords, resultBytes = 0L

    // SparkContext.addJobTag's property: the thread's tags, comma-joined
    private def tagged(props: java.util.Properties): Boolean =
      Option(props).exists(_.getProperty("spark.job.tags", "")
        .split(',').contains(tag))

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      if (tagged(js.properties)) {
        val desc = js.properties.getProperty("spark.job.description", "")
        starts(js.jobId) = (System.nanoTime(), desc)
        stageIds ++= js.stageIds
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      starts.get(je.jobId).foreach { case (t0, desc) =>
        val dt = (System.nanoTime() - t0) / 1e9
        lines += f"job ${je.jobId}%3d ${dt}%7.3fs  ${desc.take(90)}"
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
        if (stageIds(si.stageId)) {
          val tm = si.taskMetrics
          stages += 1
          tasks += si.numTasks
          cpuNs += tm.executorCpuTime
          runMs += tm.executorRunTime
          gcMs += tm.jvmGCTime
          shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          inputRecords += tm.inputMetrics.recordsRead
          resultBytes += tm.resultSize
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield (a - b) / 1e3).getOrElse(-1.0)
          lines += (f"  stage ${si.stageId}%3d ${wall}%7.3fs tasks=${si.numTasks}%4d " +
            f"cpu=${tm.executorCpuTime / 1e9}%6.2fs run=${tm.executorRunTime / 1e3}%6.2fs " +
            f"gc=${tm.jvmGCTime / 1e3}%5.2fs in=${tm.inputMetrics.recordsRead}%9d " +
            f"sw=${tm.shuffleWriteMetrics.recordsWritten}%9d " +
            f"swB=${tm.shuffleWriteMetrics.bytesWritten}%11d  ${stageName(si).take(40)}")
        }
      }

    // a stage adaptive execution submits carries the call site of
    // Spark's materialization thread, the same for every such stage;
    // its plan operator is what ties it to the plan
    private def stageName(si: StageInfo): String =
      if (si.name.contains("withThreadLocalCaptured"))
        ListenerBridge.scopeName(si).getOrElse(si.name)
      else si.name

    def profile(compiles: Long): RunProfile = synchronized {
      RunProfile(starts.size, stages, tasks, cpuNs / 1e9, runMs / 1e3,
        gcMs / 1e3, shuffleRead, shuffleWrite, spill, inputRecords,
        resultBytes, compiles, lines.toList)
    }
  }
}
