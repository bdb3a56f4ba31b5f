package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `layer` is the text before
  * the first dot of `name`; `op` is the shared id of the cycle, request
  * or pass the span belongs to; `parent` is 0 for a top-level span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends; nothing
  * is written while the workload runs. A disabled tracer runs the body
  * and records nothing, so untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A top-level span: the operation `name` with a fresh shared id. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = stack.get
      stack.set(Nil)
      try span(name)(body) finally stack.set(saved)
    }

  /** A child span of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption match {
        case Some((p, o)) => (p, o)
        case None => (0L, id)
      }
      stack.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        done.add(Span(id, parent, op, name, t0, t1))
      }
    }

  def nextId(): Long = ids.incrementAndGet()
  def spans: Seq[Span] = done.asScala.toSeq
}

object Trace {

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover (children clipped to the parent). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = unionLength(kids.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
      })
      s.id -> (s.durNs - cover)
    }.toMap
  }

  /** Re-parent externally timed spans (parent 0, op 0) under the
    * innermost recorded span that contains them. Intervals that fall
    * in no span are dropped: they belong to no traced operation. */
  def nest(recorded: Seq[Span], loose: Seq[Span]): Seq[Span] = {
    val placed = loose.flatMap { l =>
      recorded.filter(s => s.startNs <= l.startNs && l.endNs <= s.endNs)
        .minByOption(_.durNs)
        .map(p => l.copy(parent = p.id, op = p.op))
    }
    recorded ++ placed
  }

  /** Self time summed per layer over all spans. */
  def layerSelf(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}
