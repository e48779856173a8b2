package perfbench

import scala.collection.mutable

/** One timed call into a layer. `parent` is -1 for a root span; spans
  * of one traced run share `run`. `attrs` carries counts measured at
  * the same boundary (bytes written, rows, pairs).
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Layer of the span: the part of its name before the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Epoch nanoseconds from the monotonic clock, so spans line up with
  * Spark's task launch and finish times (epoch milliseconds).
  */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offset
}

object Spans {

  /** Total length covered by a set of half-open intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curEnd) {
          if (curEnd > curStart) total += curEnd - curStart
          curStart = s; curEnd = e
        } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of every span, in seconds: its duration minus the part
    * of its interval that its direct children cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      s.id -> (s.endNs - s.startNs - covered(kids)) / 1e9
    }.toMap
  }

  /** Sum of self seconds per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfSeconds(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Records nested spans in memory while enabled; a disabled tracer
  * only runs the body, so untraced runs pay nothing for it.
  *
  * Every span also becomes the Spark local property [[Tracer.SpanKey]]
  * while it is open, so the jobs it starts can be matched to it.
  */
final class Tracer(val enabled: Boolean, val run: String,
    onEnter: Int => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def spans: Seq[Span] = done.toSeq

  /** Layer of a span, open or closed; read from listener threads. */
  def layerOf(id: Int): Option[String] =
    Option(names.get(id)).map(_.takeWhile(_ != '.'))

  /** Innermost open span, or -1. */
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String)(body: => T): T = measured(name)(body)(_ => Map.empty)

  /** A span whose counts `attrs` derives from the body's result. */
  def measured[T](name: String)(body: => T)(attrs: T => Map[String, Double]): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      names.put(id, name)
      stack = id :: stack
      onEnter(id)
      val t0 = Clock.nowNs
      var result: Option[T] = None
      try {
        val r = body
        result = Some(r)
        r
      } finally {
        val t1 = Clock.nowNs
        stack = stack.tail
        onEnter(current)
        done += Span(id, name, parent, run, t0, t1,
          result.map(attrs).getOrElse(Map.empty))
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val off: Tracer = new Tracer(false, "off")
}
