package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans, recorded around the calls into each layer and
  * written out when the run ends. With tracing off, [[span]] only runs
  * the body. Times are epoch nanoseconds; a span's `trace` is the id of
  * the request (refresh, read, micro-batch) it belongs to. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val originNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs(): Long = originNs + System.nanoTime()

  def newId(): Long = ids.incrementAndGet()

  def span[T](name: String, parent: Long, trace: Long)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val start = nowNs()
      try body(id)
      finally spans.add(Span(id, parent, trace, name, start, nowNs()))
    }

  /** Record a span whose times were measured elsewhere, under `id` when
    * its children already name it as their parent. */
  def record(name: String, parent: Long, trace: Long, startNs: Long, endNs: Long,
      id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else newId()
      spans.add(Span(sid, parent, trace, name, startNs, endNs))
      sid
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson: String = Out.value(all.map(s => Out.obj("id" -> s.id,
    "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Tracer {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
      startNs: Long, endNs: Long)

  /** Self time per span name, in ms: each span's duration minus the
    * part of its interval that its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
