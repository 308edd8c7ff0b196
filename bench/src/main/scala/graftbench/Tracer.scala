package graftbench

import scala.collection.mutable.ArrayBuffer

/** A timed call: `name` is `<module>.<function>`, times are epoch ms with
  * sub-ms precision, `parent` is the enclosing span's id (-1 at the root),
  * `op` the operation the span belongs to, `gcMs` the JVM collector time
  * spent between its start and end.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Double, end: Double, gcMs: Long) {
  def ms: Double = end - start
}

/** Spans around the benchmark's calls into the program's modules. Every
  * call is timed; spans are kept (in memory, written out when the run
  * ends) only while `on` is set.
  */
final class Tracer {
  @volatile var on = false
  var op = -1
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var next = 0
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def all: Seq[Span] = spans.toList

  /** Runs `body`; returns its result and its duration in ms. */
  def span[A](name: String)(body: => A): (A, Double) = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    val g0 = Main.gcMs()
    val t0 = now()
    stack = id :: stack
    val r = try body finally stack = stack.tail
    val t1 = now()
    if (on) spans += Span(id, parent, op, name, t0, t1, Main.gcMs() - g0)
    (r, t1 - t0)
  }

  /** Self time per span id: duration minus the time its children cover. */
  def selfMs(ss: Seq[Span]): Map[Int, Double] = {
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}
