package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is one call the harness makes into a
  * layer's public functions: name, layer, start/end (ns), parent span
  * and the request it belongs to. With tracing off `span` only runs the
  * body, so untraced runs pay nothing.
  *
  * Self time of a span = its duration minus the time its child spans
  * cover; a layer's self time is the sum over its spans. The harness is
  * single-threaded (one client), so children nest without overlap.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        req: Long, start: Long, end: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Nanoseconds spent inside the recorder itself (the tracing cost). */
  var bookkeepingNs = 0L
  var request = 0L

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      bookkeepingNs += t0 - b0
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, layer, request, t0, t1)
        bookkeepingNs += System.nanoTime() - t1
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self seconds per layer over the recorded spans. */
  def selfByLayer: Map[String, Double] = selfBy(_.layer)

  /** Self seconds per span name (for per-stage figures). */
  def selfByName: Map[String, Double] = selfBy(_.name)

  private def selfBy(key: Span => String): Map[String, Double] = {
    val childNs = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(key).map { case (k, ss) =>
      k -> ss.map(s => (s.end - s.start - childNs(s.id)).max(0L)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map(s => Stats.json(Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "req" -> s.req,
      "start_ns" -> s.start, "end_ns" -> s.end)) + "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.mkString.getBytes("UTF-8"))
  }
}
