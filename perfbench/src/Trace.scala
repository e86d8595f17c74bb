package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** Spans around the benchmark's calls into graft, kept in memory and
  * written out when the run ends. Each span has a name, a layer (one of
  * graft's modules, or `bench` for the benchmark's own glue), start and
  * end on the `System.nanoTime` clock, the span that caused it, and the id
  * of the timed call it belongs to.
  *
  * With tracing off, [[span]] only runs its body: untraced runs record
  * nothing. Spans nest through a thread-local stack; the innermost open
  * span id is also published as the Spark local property
  * [[SpanProperty]], so every Spark job a span starts can be parented to
  * it by the job listener. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, layer: String,
                        call: Long, t0: Long, t1: Long)

  val SpanProperty = "graftbench.span"

  @volatile var on: Boolean = false
  @volatile var sc: org.apache.spark.SparkContext = _

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Anchor between the nanoTime clock and epoch millis, for job spans
    * whose times the listener reports in epoch millis. */
  val anchorNs: Long = System.nanoTime()
  val anchorMs: Long = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  /** Run `body` inside a span. `call` defaults to the enclosing span's. */
  def span[T](name: String, layer: String, call: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val callId =
        if (call >= 0) call else outer.headOption.map(_._2).getOrElse(0L)
      stack.set((id, callId) :: outer)
      publish(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        publish(parent)
        spans.add(Span(id, parent, name, layer, callId, t0, t1))
      }
    }

  /** A span whose interval is known after the fact (a Spark job). */
  def record(parent: Long, name: String, layer: String, call: Long,
             t0: Long, t1: Long): Unit =
    if (on) {
      spans.add(Span(ids.incrementAndGet(), parent, name, layer, call, t0, t1))
      ()
    }

  private def publish(id: Long): Unit = {
    val c = sc
    if (c != null) c.setLocalProperty(SpanProperty, if (id == 0L) null else id.toString)
  }

  def all: Seq[Span] = {
    val b = Vector.newBuilder[Span]
    spans.forEach(s => b += s)
    b.result()
  }
}
