package perfbench

import scala.collection.mutable.ArrayBuffer

/** One call into a layer. `parent` is the id of the enclosing span, or -1.
  * `req` names the request the call served: a query, an operation index or
  * a document sample.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    req: String, startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** Records spans around the benchmark's calls into the engine's public
  * functions. Spans stay in memory until the run ends. A disabled tracer
  * runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](layer: String, name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, req, t0, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Tracer {

  /** Self time of every span: its duration minus its direct children's. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(
      _.durationNs)(_ + _)
    spans.map(s => s.id -> (s.durationNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Self seconds summed per layer. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupMapReduce(_.layer)(s => self(s.id) / 1e9)(_ + _)
  }

  def toJson(spans: Seq[Span]): String = Json(spans.map(s =>
    scala.collection.immutable.ListMap(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "req" -> s.req, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs)))
}
