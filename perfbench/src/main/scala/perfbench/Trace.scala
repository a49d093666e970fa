package perfbench

import scala.collection.mutable.ArrayBuffer

/** One call into a layer: `op` names the batch or phase it belongs to,
  * `parent` is the enclosing span's id (-1 at the top). Times are
  * nanoTime for durations and epoch milliseconds for lining spans up
  * with Spark's job events. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for a single client thread. When disabled,
  * `span` only runs its body, so an untraced run pays nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1, ms0,
          System.currentTimeMillis())
      }
    }

  def recorded: Seq[Span] = spans.toSeq.sortBy(_.id)
}

object Trace {

  /** Self time of every span: its duration minus the part of its
    * interval covered by its direct children (overlapping children are
    * counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - covered(ivs))
    }.toMap
  }

  /** Total length of the union of half-open intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Sum of span durations per name, in milliseconds. */
  def totalMsByName(spans: Seq[Span]): Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e6 }

  def toJson(spans: Seq[Span], jobsBySpan: Map[Int, Int]): Json.Value = {
    val self = selfTimes(spans)
    Json.Arr(spans.map { s =>
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6,
        "spark_jobs" -> jobsBySpan.getOrElse(s.id, 0).toLong)
    })
  }
}
