package etlbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory around the benchmark's own calls into the
  * program; nothing is written until the run ends. When disabled,
  * `span` only runs its body. While a span is open, Spark jobs started
  * from this thread carry the span's id as their job group, so the
  * listener can attribute jobs to it.
  */
final class Tracer(run: String, setGroup: (String, String) => Unit,
    clearGroup: () => Unit) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var enabled: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      setGroup(s"$run/$id", name)
      val start = System.nanoTime()
      try body
      finally {
        buf += Span(id, parent, name, run, start, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => setGroup(s"$run/$p", name)
          case None => clearGroup()
        }
      }
    }

  def spans: Seq[Span] = buf.toSeq.sortBy(_.id)
}

object Spans {

  /** Self time: the span's duration minus the part of its interval that
    * its direct children cover. Overlapping children count once, and a
    * child's time outside the parent's interval is ignored.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a
        curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    span.durNs - covered
  }

  /** Self time of every span, keyed by span id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfNs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}
