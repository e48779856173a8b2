package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

import graft.core.RunProfile

/** [[graft.core.RunProfile]] charges a block exactly the Spark work its
  * own thread started: known plans sum to known counts, and neither a
  * concurrent thread's job nor an earlier block's late events leak in.
  */
class RunProfileSpec extends SparkSpec {

  test("a known plan reports exact jobs, stages and tasks, shuffle bytes " +
      "and CPU") {
    val (n, p) = RunProfile(spark)(
      spark.range(0, 1000, 1, 4).repartition(2).count())
    assert(n == 1000)
    // adaptive execution runs each exchange as its own job: the
    // round-robin write (4 tasks), the partial counts' write (2 tasks),
    // then the final count (1 task) — the result job re-lists the
    // finished map stages as skipped, and skipped stages are not charged
    assert((p.jobs, p.stages, p.tasks) == ((3, 3, 7)), p)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0, p)
    assert(p.cpuSec > 0 && p.inputRecords == 1000, p)
    assert(p.lines.count(_.startsWith("job ")) == 3, p.lines)
    assert(p.lines.count(_.startsWith("  stage ")) == 3, p.lines)
  }

  test("a job started on another thread outside the block is not charged") {
    val go = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      spark.range(0, 100, 1, 3).count()
    })
    other.start() // created before the block: it does not carry its tag
    val (_, p) = RunProfile(spark) {
      go.countDown()
      spark.sparkContext.parallelize(1 to 10, 2).count()
      other.join()
    }
    assert((p.jobs, p.stages, p.tasks) == ((1, 1, 2)), p)
  }

  test("a never-seen expression counts at least one compile") {
    val salt = System.nanoTime()
    val (_, p) = RunProfile(spark)(
      spark.range(0, 10, 1, 1).select((col("id") * lit(salt) + lit(7L))
        .as("x")).queryExecution.toRdd.count())
    assert(p.compiles >= 1, p)
  }

  test("back-to-back blocks do not leak events into each other") {
    val sc = spark.sparkContext
    // the first block leaves a slow job running when it returns
    val (pending, first) = RunProfile(spark)(
      sc.parallelize(1 to 4, 4).map { x => Thread.sleep(300); x }
        .countAsync())
    val (_, second) = RunProfile(spark)(sc.parallelize(1 to 6, 3).count())
    assert(pending.get() == 4)
    assert((second.jobs, second.stages, second.tasks) == ((1, 1, 3)), second)
    // and the late job's events were not charged to the first block
    // after it returned either
    assert(first.stages == 0 && first.tasks == 0, first)
  }

  test("an adaptive-execution stage is named by its plan operator, not " +
      "the materialization thread's call site") {
    val (_, p) = RunProfile(spark)(
      spark.range(0, 1000, 1, 4).repartition(2).count())
    val stageLines = p.lines.filter(_.startsWith("  stage "))
    assert(stageLines.nonEmpty, p.lines)
    assert(!stageLines.exists(_.contains("withThreadLocalCaptured")),
      stageLines)
  }
}
