package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder. A span is one call into a layer of the
  * program, made from the benchmark: name, start, end, the enclosing span
  * on the same thread, and a trace id (the task or pass it serves). Spans
  * stay in memory until [[drain]] at the end of the run; with recording
  * off, [[span]] only evaluates its body. */
object Spans {

  final case class Span(id: Long, name: String, trace: String, parent: Long,
      startNs: Long, endNs: Long)

  @volatile var enabled = false
  private val origin = System.nanoTime()
  private val ids = new AtomicLong
  private val finished = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime() - origin
      try body
      finally {
        finished.add(Span(id, name, trace, stack.headOption.getOrElse(0L),
          t0, System.nanoTime() - origin))
        open.set(stack)
      }
    }

  def snapshot(): Seq[Span] = finished.asScala.toSeq.sortBy(_.id)

  def drain(): Seq[Span] = {
    val out = snapshot()
    finished.clear()
    out
  }
}
