package perfbench

import scala.collection.mutable

/** One timed interval of the traced run. Times are nanoseconds on the
  * benchmark's clock ([[Spans.now]]). `parent` is 0 for a trace root; every
  * span of one batch or query shares its root's `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, start: Long, end: Long) {
  def duration: Long = math.max(0L, end - start)
}

object Spans {

  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()

  def now(): Long = System.nanoTime() - nanoBase

  /** An epoch-millisecond timestamp (Spark listener events) on the span clock. */
  def fromEpochMs(ms: Long): Long = (ms - milliBase) * 1000000L

  /** Total length covered by the union of intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's duration minus the part of it its children cover. Children
    * may overlap each other (concurrent streams, parallel jobs) and may
    * stick out of the parent (listener clocks are millisecond-grained);
    * both are clipped, so self time is never negative or double-counted. */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end)))
    span.duration - unionLength(clipped)
  }

  /** Self time summed per layer over a set of spans. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupMapReduce(_.layer)(s => selfTime(s, kids.getOrElse(s.id, Nil)))(_ + _)
  }
}

/** Thread-safe in-memory span buffer; written out when the run ends. */
final class SpanRecorder {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  private val layers = mutable.LongMap.empty[String]

  def add(s: Span): Unit = synchronized { buf += s; layers(s.id) = s.layer }

  def layerOf(id: Long): Option[String] = synchronized { layers.get(id) }

  def all: Seq[Span] = synchronized { buf.toList }

  def size: Int = synchronized { buf.length }

  /** Spans recorded after the first `mark` ones. */
  def since(mark: Int): Seq[Span] = synchronized { buf.drop(mark).toList }

  /** (span id, trace id) of the innermost span open on this thread. */
  def current: Option[(Long, Long)] = open.get().headOption

  /** Run `body` inside a span that is a child of the span open on this
    * thread, or the root of a new trace when none is open. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId()
    val (parent, trace) = current.map { case (p, t) => (p, t) }.getOrElse((0L, id))
    open.set((id, trace) :: open.get())
    val start = Spans.now()
    try body
    finally {
      open.set(open.get().tail)
      add(Span(id, parent, trace, name, layer, start, Spans.now()))
    }
  }
}
