package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. Times are epoch microseconds, so
  * client spans (timed with `System.nanoTime`) and Spark's listener events
  * (epoch milliseconds) share one clock.
  */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, op: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Disabled, it records nothing and `span` only
  * runs its body, so untraced runs pay no tracing cost. Spans stay in
  * memory and are written out once, at the end of the run.
  *
  * Client spans nest through the recording thread's stack. Spans reported
  * by listeners (Spark jobs, Catalyst phases) arrive asynchronously with
  * parent -1 and are attached to the innermost client span of the same
  * operation that contains their start, in `resolved`.
  */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ArrayBuffer.empty[Int]
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  @volatile var op: String = ""

  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized {
        val i = spans.length
        spans += Span(i, stack.lastOption.getOrElse(-1), name, layer, op, nowUs, -1L)
        i
      }
      stack += id
      try body
      finally {
        stack.remove(stack.length - 1)
        val end = nowUs
        synchronized { spans(id) = spans(id).copy(endUs = end) }
      }
    }

  /** A finished span reported from another thread (listener callbacks). */
  def record(name: String, layer: String, op: String, startUs: Long, endUs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(spans.length, -1, name, layer, op, startUs, math.max(startUs, endUs))
    }

  /** All spans with listener-reported spans attached to their parents. */
  def resolved: Vector[Span] = synchronized {
    val byOp = spans.filter(s => !Trace.listenerLayers(s.layer)).groupBy(_.op)
    spans.toVector.map { s =>
      if (!Trace.listenerLayers(s.layer)) s
      else {
        val holders = byOp.getOrElse(s.op, ArrayBuffer.empty)
          .filter(c => c.startUs - 1000L <= s.startUs && s.startUs <= c.endUs)
        // listener times have millisecond resolution: allow 1 ms of slack
        if (holders.isEmpty) s else s.copy(parent = holders.maxBy(_.startUs).id)
      }
    }
  }

  /** Self time per layer. A client span's self time is its duration minus
    * the part of its interval that its children cover. Listener spans can
    * overlap each other (concurrent jobs), so their layer's time is the
    * length of the union of their intervals.
    */
  def selfUsByLayer: Map[String, Long] = {
    val all = resolved
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> (
        if (Trace.listenerLayers(layer)) Intervals.unionLength(ss.map(s => (s.startUs, s.endUs)))
        else ss.map { s =>
          val covered = Intervals.unionLength(
            kids.getOrElse(s.id, Vector.empty)
              .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
          math.max(0L, s.durUs - covered)
        }.sum)
    }
  }

  def size: Int = synchronized(spans.length)

  def writeJson(path: java.nio.file.Path): Unit = {
    val rows = resolved.map { s =>
      Json.obj(Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "op" -> Json.str(s.op), "start_us" -> Json.num(s.startUs),
        "end_us" -> Json.num(s.endUs)))
    }
    java.nio.file.Files.writeString(path, rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

object Trace {
  /** Layers whose spans come from listener callbacks, not client calls. */
  val listenerLayers: Set[String] = Set("spark", "plans")
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
