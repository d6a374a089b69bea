package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the id of the enclosing span
  * on the same thread (0 for a root); `req` ties the spans of one request
  * or one maintenance cycle together. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one go, so recording costs a queue append and two
  * `nanoTime` reads. When disabled, [[span]] only runs its body. */
final class Tracer(initially: Boolean) {
  /** Whether spans are recorded now; a traced run turns this on for its
    * traced half. */
  @volatile var enabled: Boolean = initially
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, req, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(file: java.io.File): Unit = {
    val out = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

object Trace {

  /** Self time of every span: its duration minus the part of it covered
    * by its children. Children may overlap each other (parallel calls
    * under one parent) and may stick out of the parent; only the union of
    * their intervals clipped to the parent is subtracted. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.get(s.id).fold(0L) { cs =>
        unionLength(cs.map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of the union of half-open intervals (empty ones
    * ignored). */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name: summed self time in ms, call count. */
  def selfByName(spans: Seq[Span]): Map[String, (Double, Int)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => self(s.id)).sum / 1e6, ss.size)
    }
  }
}
