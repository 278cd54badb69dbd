package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call into a layer. `parent` is 0 for an operation's root span. */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counters recorded by the benchmark around its calls into the
  * program. Spans are kept in memory and written out once, when the run
  * ends. Spans nest through a per-thread stack; [[record]] adds a span with
  * an explicit parent for work that was timed on another thread.
  *
  * While a span is open on a thread, Spark jobs started from that thread are
  * tagged with the span's name as their job group, so [[SparkCounters]] can
  * say which layer started each job. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicInteger()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, String)]] { override def initialValue = Nil }
  private val currentOp = new ThreadLocal[Long] { override def initialValue = -1L }

  /** Time `body` as the root span of operation `op`. */
  def op[T](op: Long, name: String)(body: => T): T = {
    currentOp.set(op)
    try span(name)(body) finally currentOp.set(-1L)
  }

  /** Time `body` as a child of the innermost open span on this thread. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = outer.headOption.map(_._1).getOrElse(0)
    stack.set((id, name) :: outer)
    if (sc != null) sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      if (sc != null) outer.headOption match {
        case Some((_, n)) => sc.setJobGroup(n, n)
        case None => sc.clearJobGroup()
      }
      add(Span(id, parent, currentOp.get, name, t0, t1))
    }
  }

  /** Add a span timed elsewhere; returns its id for use as a parent. */
  def record(op: Long, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = ids.incrementAndGet()
    add(Span(id, parent, op, name, startNs, endNs))
    id
  }

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }
}

object Tracer {
  /** Self time of each span: its duration minus the time its children
    * cover. Children of one span do not overlap, so the self times of all
    * spans of an operation add up to the duration of its root span. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Total self time per span name over all operations, in ms. */
  def selfMsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfMs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}
