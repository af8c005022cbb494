package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

/** Spans recorded around calls into each layer: name, start, end (ns
  * since the run began), the enclosing span on the same thread, and the
  * run id. Kept in memory and written as JSONL when the run ends. When
  * tracing is off, [[span]] only runs its body.
  */
final class Tracer(val on: Boolean, runId: String) {
  final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

  private val origin = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue() = 0L }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val s = System.nanoTime() - origin
      try body
      finally {
        current.set(parent)
        spans.add(Span(id, parent, name, s, System.nanoTime() - origin))
      }
    }

  /** A span measured elsewhere (for example a micro-batch from progress). */
  def record(name: String, startNanos: Long, endNanos: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), 0L, name, startNanos - origin, endNanos - origin))

  def write(path: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    lines.size
  }
}
