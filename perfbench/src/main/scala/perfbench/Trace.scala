package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer's public function. */
final case class Span(id: Long, parent: Long, name: String, runId: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the benchmark's calls into each
  * layer. Disabled, `span` is a plain call; enabled, it records
  * (name, start, end, parent, run id) and nests through a per-thread
  * stack. Spans are written out once, at the end of the run. */
final class Tracer(@volatile var enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, runId, t0,
          System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** JSON lines, one per span, with its self time: the span's
    * duration minus the part its children's intervals cover. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val children = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val self = s.durNs - Tracer.covered(children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)))
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""run":"${s.runId}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""dur_ms":${s.durNs / 1e6},"self_ms":${self / 1e6}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
