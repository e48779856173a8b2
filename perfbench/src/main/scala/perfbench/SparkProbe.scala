package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work summed over a set of tasks, stages and jobs. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskFailures: Long = 0, cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    inputRecords: Long = 0, resultBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskFailures + o.taskFailures, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill,
    inputRecords + o.inputRecords, resultBytes + o.resultBytes)
}

object Work {
  val zero: Work = Work()
}

/** A SparkListener that charges every job, stage and task to the span
  * open when it was submitted (the [[Tracer.SpanKey]] local property)
  * and to the engine module that started it ([[Attribution]]). It is
  * attached for one traced episode only, so all it sees is that
  * episode's work. Jobs that engine code submits from its own thread
  * pools may carry no span, or a stale one; they still count in the
  * episode's and their module's totals.
  *
  * `layerOf` maps a span id to its layer, for jobs the benchmark's own
  * code started.
  */
final class SparkProbe(layerOf: Int => Option[String]) extends SparkListener {
  private case class Owner(span: Int, module: String)

  private val stageOwner = mutable.Map.empty[Int, Owner]
  private val work = mutable.Map.empty[Owner, Work].withDefaultValue(Work.zero)
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  private def owner(props: java.util.Properties, callSiteLong: String): Owner = {
    val span = spanOf(props)
    Owner(span, Attribution.moduleOfJob(callSiteLong, layerOf(span)))
  }

  private def add(o: Owner, w: Work): Unit = synchronized { work(o) = work(o) + w }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage is created for this job, so it carries its call site
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    add(owner(e.properties, details), Work(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val o = owner(e.properties, e.stageInfo.details)
    synchronized { stageOwner(e.stageInfo.stageId) = o }
    add(o, Work(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val o = synchronized(stageOwner.get(e.stageId)).getOrElse(Owner(-1, "bench"))
    val info = e.taskInfo
    val w = Option(e.taskMetrics) match {
      case Some(m) => Work(tasks = 1,
        taskFailures = if (info.successful) 0 else 1,
        cpuNs = m.executorCpuTime, runMs = m.executorRunTime,
        gcMs = m.jvmGCTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRecords = m.inputMetrics.recordsRead,
        resultBytes = m.resultSize)
      case None => Work(tasks = 1, taskFailures = if (info.successful) 0 else 1)
    }
    add(o, w)
    synchronized { taskIntervals += ((info.launchTime * 1000000L, info.finishTime * 1000000L)) }
  }

  /** All work seen, by module. */
  def byModule: Map[String, Work] = synchronized {
    work.toSeq.groupMapReduce(_._1.module)(_._2)(_ + _)
  }

  /** Work charged to each span. */
  def bySpan: Map[Int, Work] = synchronized {
    work.toSeq.groupMapReduce(_._1.span)(_._2)(_ + _)
  }

  /** Task run intervals on the epoch-nanosecond clock. */
  def tasks: Seq[(Long, Long)] = synchronized(taskIntervals.toSeq)
}

object SparkProbe {
  /** Register a probe; events already queued are delivered before
    * [[drain]] returns.
    */
  def attach(sc: SparkContext, layerOf: Int => Option[String]): SparkProbe = {
    val p = new SparkProbe(layerOf)
    sc.addSparkListener(p)
    p
  }

  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(sc)
}
