package perfbench

/** Which module of the engine started a Spark job.
  *
  * Spark names a job by its call site: the short form
  * `count at Dedupe.scala:123` names the first source file outside
  * Spark, and the long form lists the stack from the Spark method the
  * caller entered, one frame a line, e.g.
  * `org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)` then
  * `graft.operators.Dedupe$.connectedComponents(Dedupe.scala:123)`.
  * The first frame of the engine's or the benchmark's own code decides:
  * an engine class's package under `graft` names the module. A job the
  * benchmark's own code started (it materialized a lazy frame), or one
  * with no such frame at all (broadcast and adaptive-execution helper
  * threads), belongs to the layer of the span it ran in.
  */
object Attribution {

  /** Modules reported one by one; every other engine package is `other`. */
  val modules: Seq[String] = Seq("sources", "operators", "streaming",
    "inat", "metrics", "queries", "core", "other", "bench")

  // optional class-loader and module prefixes ("app//", "java.base/")
  private val Frame = """^\s*(?:[\w.$@-]*/)*([\w.$]+)\.[\w$<>]+\(.*\)\s*$""".r

  /** Class of a stack frame line, if it parses. */
  def classOfFrame(frame: String): Option[String] = frame match {
    case Frame(cls) => Some(cls)
    case _ => None
  }

  /** Module of an engine class, None for any other class. */
  def moduleOfClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else cls.split('.') match {
      // graft.SparkEntry, graft.Tables, graft.Queries: the query entry points
      case Array(_, _) => Some("queries")
      case parts => Some(if (modules.contains(parts(1))) parts(1) else "other")
    }

  /** Module a job is charged to: the engine module of the first engine
    * or benchmark frame of its call site, else the layer of its
    * enclosing span, else `bench`.
    */
  def moduleOfJob(callSiteLong: String, spanLayer: Option[String]): String =
    callSiteLong.linesIterator.flatMap(classOfFrame)
      .find(c => c.startsWith("graft.") || c.startsWith("perfbench."))
      .flatMap(moduleOfClass)
      .orElse(spanLayer.filter(modules.contains))
      .getOrElse("bench")
}
