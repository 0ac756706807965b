package dpbench

import scala.collection.mutable

/** One timed interval around a call into a layer. `parent` is the id of the
  * enclosing span, or -1 at the root. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** Records nested spans in memory; nothing is written until the run ends.
  * Single-threaded: spans nest by call structure. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val start = System.nanoTime()
    try body
    finally {
      done += Span(id, name, parent, start, System.nanoTime())
      open.pop()
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {

  /** Self time of each span: its duration minus the part of its interval
    * covered by its direct children (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durationNs - covered)
    }.toMap
  }
}
