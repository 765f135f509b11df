package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span is one call into a layer of the
  * engine, timed from outside: name, layer, start, end, parent and the
  * run id. Spans nest through a per-thread stack; they are kept in memory
  * and written out once, at the end of the run, so recording costs one
  * clock read and one queue insert per span. Off, `span` only runs its
  * body. */
final class Trace(val enabled: Boolean, val runId: String) {
  /** Spans are recorded only while `on` (a traced run may measure some
    * units untraced, to report the tracing overhead). */
  @volatile var on: Boolean = enabled

  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        startNs: Long, endNs: Long, thread: String)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name, t0,
          t1, Thread.currentThread().getName))
      }
    }

  def writeTo(out: Out): Unit =
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      out.rec("span", "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "thread" -> s.thread, "run" -> runId)
    }
}
