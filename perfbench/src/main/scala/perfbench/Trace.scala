package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. Spans of one operation share
  * `trace`; `parent` is 0 for the operation's root span. Times are
  * `System.nanoTime` readings. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. The harness opens a root
  * span per operation and a child span around every call it makes into a
  * layer; spans stay in memory until [[writeJsonl]] at exit. The harness
  * drives the program from one thread, which is the only thread that
  * records. While `enabled` is false every method is a plain call. */
object Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  /** An open span; `outer` is the span that was current when it opened. */
  private final class Frame(val trace: Long, val id: Long, val name: String,
      val startNs: Long, val outer: Frame)
  private var current: Frame = null
  /** The last span each name closed — the parent lookup for [[synth]]. */
  private val lastClosed = mutable.HashMap.empty[String, Span]

  var enabled = false

  private def newId(): Long = { nextId += 1; nextId }

  /** The root span of one operation: a fresh trace id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      record(id, id, 0L, name)(body)
    }

  /** A child span of the current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || current == null) body
    else record(current.trace, newId(), current.id, name)(body)

  private def record[T](trace: Long, id: Long, parent: Long, name: String)(body: => T): T = {
    val f = new Frame(trace, id, name, System.nanoTime(), current)
    current = f
    try body
    finally {
      val s = Span(trace, id, parent, name, f.startNs, System.nanoTime())
      spans += s
      lastClosed(name) = s
      current = f.outer
    }
  }

  /** Record a span whose interval the harness did not time itself — a
    * phase the program reports after the fact (Catalyst's planning
    * tracker). It becomes a child of the innermost open span named
    * `parentName`, or else of the most recent closed one in the current
    * operation, and is clipped to that parent's interval (an open
    * parent's interval ends now). */
  def synth(parentName: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && current != null) {
      val open = Iterator.iterate(current)(_.outer).takeWhile(_ != null)
        .find(_.name == parentName).map(f => (f.id, f.startNs, System.nanoTime()))
      open.orElse(lastClosed.get(parentName).filter(_.trace == current.trace)
        .map(p => (p.id, p.startNs, p.endNs))).foreach { case (parent, pStart, pEnd) =>
        val a = math.max(startNs, pStart)
        val b = math.min(endNs, pEnd)
        if (b > a) spans += Span(current.trace, newId(), parent, name, a, b)
      }
    }

  def count: Int = spans.length

  /** Write every recorded span as one JSON object per line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}
