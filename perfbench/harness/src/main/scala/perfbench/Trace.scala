package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One timed interval: a layer boundary crossed by the benchmark. Times are
  * microseconds since the Unix epoch, so they line up with the millisecond
  * timestamps Spark puts on its listener events.
  */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
  def durMs: Double = durUs / 1000.0
}

/** Span recorder. When disabled, `span` only runs its body, so an untraced
  * run pays for nothing but a branch. Spans stay in memory until [[write]].
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val openSpan = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startUs)

  /** The id of the span open on this thread, or 0. */
  def current: Long = openSpan.get()

  /** Runs `body` with `parent` as the open span, so spans that another
    * thread's work opens nest under it.
    */
  def under[A](parent: Long)(body: => A): A = {
    val saved = openSpan.get()
    openSpan.set(parent)
    try body finally openSpan.set(saved)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = openSpan.get()
      openSpan.set(id)
      val t0 = Tracer.nowUs()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, Tracer.nowUs()))
        openSpan.set(parent)
      }
    }

  def write(path: String): Unit = {
    val rows = all.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs))
    Json.write(path, rows)
  }
}

object Tracer {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L
}
