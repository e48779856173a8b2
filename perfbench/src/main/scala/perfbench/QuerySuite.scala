package perfbench

import graft.SparkEntry

import scala.util.control.NonFatal

/** `query_suite`: one client runs a fixed set of registered queries
  * back to back (closed loop), each timed as
  * `queryExecution.toRdd.count()`, over the vendored sf0.01 tables. A
  * round is one pass over the set, in an order the seed shuffles.
  *
  * The set takes queries from every pack: a typical query of each, the
  * sub-second floor, and the multi-job pipelines that form the tail.
  * It leaves out q57 and q79, which write under a fixed `/tmp` path,
  * and q80 and q105, whose several seconds each would not fit a run
  * (q80's nightly fold is what `dedup_nightly` measures).
  */
object QuerySuite extends Workload {
  val name = "query_suite"

  val queries: Seq[String] = Seq(
    "q06_running_sum", "q12_popularity_scores", "q16_url_conflict",
    "q21_json_extract", "q42_url_parse", "q59_dedup_clusters",
    "q27_language_id", "q62_srp_lsh", "q76_kmv_distinct",
    "q104_image_embed_dedup", "q58_license_backfill")

  /** Pack of every registered query: RelationalQueries -> relational. */
  lazy val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    val pack = p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries")
      .toLowerCase
    p.all.map(_.name -> pack)
  }.toMap

  /** Row counts pinned from the DuckDB oracle (see pin_counts.py). */
  def expectedCounts(data: String): Map[String, Long] = {
    val src = scala.io.Source.fromFile(s"$data/../expected_counts.json")
    try """"(\w+)"\s*:\s*(\d+)""".r.findAllMatchIn(src.mkString)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    finally src.close()
  }

  val maxRounds = 100

  /** The cold pass runs before timing (~17-22 s at 2 cores, most of it
    * class loading and code generation).
    */
  val warmUpRounds = 1

  def prepare(ctx: Ctx): Prepared = new Prepared {
    private val dir = s"${ctx.data}/sf0.01"
    private val expected = expectedCounts(ctx.data)
    private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, Long])]

    def round(i: Int, tracer: Tracer): Round = {
      val order = new scala.util.Random(ctx.seed * 1000003L + i).shuffle(queries)
      val t0 = System.nanoTime()
      val done = order.map { q =>
        tracer.span(s"queries.${packOf(q)}") {
          val t0 = System.nanoTime()
          val r = try Right(SparkEntry.queries(q)(ctx.spark, dir)
              .queryExecution.toRdd.count())
            catch { case NonFatal(e) => Left(s"$q failed: $e") }
          val sec = Workload.seconds(t0)
          System.err.println(f"[perfbench] $q%-28s $sec%.3f s")
          (q, r, sec)
        }
      }
      results ++= done.map { case (q, r, _) => q -> r }
      Round(done.map { case (q, r, s) => Op(q, r.toOption.map(_ => s)) },
        Workload.seconds(t0), rows = done.flatMap(_._2.toOption).sum)
    }

    def check(): Checked = {
      val bad = results.toSeq.collect {
        case (q, Left(err)) => q -> err
        case (q, Right(n)) if !expected.get(q).contains(n) =>
          q -> s"$q returned $n rows, the oracle ${expected.getOrElse(q, "nothing")}"
      }
      Checked(bad.map(_._2).distinct, bad.map(_._1).toSet)
    }
  }
}
