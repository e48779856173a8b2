package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload gets: the session, the seed that decides its
  * inputs, the vendored data and a scratch directory for this run.
  */
final case class Ctx(spark: SparkSession, seed: Long, data: String,
    work: String, cores: Int)

/** One operation (a night's load or fold, or a query); `seconds` is
  * None when it failed. Operations of one kind (every night's load, one
  * query in every pass) are the samples of one median.
  */
final case class Op(name: String, seconds: Option[Double], kind: String)

object Op {
  /** An operation that is its own kind. */
  def apply(name: String, seconds: Option[Double]): Op = Op(name, seconds, name)
}

/** What one round did: a night of a nightly workload, or one pass over
  * the query suite.
  *
  * @param seconds wall time of the round's timed section
  * @param rows input rows consumed (staged media plus photos, folded
  *   documents) or, for the query suite, result rows materialized
  * @param counts per-layer counts measured at the layer boundaries
  */
final case class Round(ops: Seq[Op], seconds: Double, rows: Long,
    counts: Map[String, Double] = Map.empty)

/** Result of output checks.
  *
  * @param problems a description of every problem found
  * @param badOps operations whose output was wrong; they count as failed
  * @param counts per-layer counts the checks measured
  */
final case class Checked(problems: Seq[String], badOps: Set[String] = Set.empty,
    counts: Map[String, Double] = Map.empty) {
  /** An operation failed if it did not complete or the checks named it. */
  def failed(op: Op): Boolean = op.seconds.isEmpty || badOps(op.name)

  def ++(o: Checked): Checked = Checked(problems ++ o.problems, badOps ++ o.badOps,
    Workload.sum(counts, o.counts))
}

/** A workload whose inputs and starting state exist (built untimed). */
trait Prepared {
  /** Run round `i`; rounds run in order from 0, and a night's state
    * carries into the next. With an enabled tracer the round also
    * records spans and materializes lazy layer outputs, so each layer
    * gets a self time.
    */
  def round(i: Int, tracer: Tracer): Round

  /** Output checks on everything the rounds so far produced, untimed. */
  def check(): Checked
}

trait Workload {
  def name: String
  /** Rounds one preparation has inputs for. */
  def maxRounds: Int
  /** Timed rounds a run makes at least; it makes more while their time
    * stays below `--seconds`.
    */
  def minRounds: Int = 1
  /** Build the inputs of every round from the seed, and the starting state. */
  def prepare(ctx: Ctx): Prepared

  /** Untimed rounds that run on the real state once it is built, before
    * anything is timed: classes load, generated code compiles and the
    * JIT compiles every path at full size. They count in set-up.
    */
  def warmUpRounds: Int
}

object Workload {
  val all: Seq[Workload] = Seq(Nightly, QuerySuite, CatalogLoad, DedupNightly)

  def sum(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** In a traced run, compute and cache `df` so the enclosing span owns
    * its cost; untraced, return it unchanged (lazy).
    */
  def materialize(df: DataFrame, tracer: Tracer): DataFrame =
    if (!tracer.enabled) df
    else {
      val p = df.persist()
      p.count()
      p
    }

  /** A span around a call that writes under `root`; traced, it records
    * the bytes and files the call added there.
    */
  def writing[T](tracer: Tracer, name: String, root: String)(body: => T): T = {
    val before = if (tracer.enabled) Disk.files(root) else Map.empty[String, Long]
    tracer.measured(name)(body)(_ => Disk.written(before, root))
  }

  /** A fresh directory under the run's scratch directory. */
  def freshDir(ctx: Ctx, prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ctx.work), prefix).toString

  /** Run `a` and `b` at once, each in its own thread; return both results. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val other = Future(b)(ExecutionContext.global)
    val first = a
    (first, Await.result(other, scala.concurrent.duration.Duration.Inf))
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `f`, returning its result and its wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, seconds(t0))
  }
}
