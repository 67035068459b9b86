package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** Benchmark-side span recorder. Spans are opened around calls into a
  * layer from the benchmark's own code; each has a name, start, end,
  * parent span and a group id (all spans of one service request or one
  * batch pass share it). Spans stay in memory and are written out when
  * the run ends.
  */
final case class Span(id: Int, name: String, parent: Int, group: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Record `body` as span `name` in `group`, nested under the calling
    * thread's innermost open span. */
  def span[T](name: String, group: Long)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      synchronized { spans += Span(id, name, parent, group, t0, t1) }
    }
  }

  /** Record an already-timed interval (a client-side request). */
  def record(name: String, group: Long, startNs: Long, endNs: Long): Unit =
    synchronized {
      spans += Span(nextId, name, 0, group, startNs, endNs)
      nextId += 1
    }

  def all: Vector[Span] = synchronized(spans.toVector)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""group":${s.group},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Trace {

  /** Length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its own
    * interval that its children cover (children clipped to the parent,
    * overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Per span name: (count, total ms, self ms). */
  def byName(spans: Seq[Span]): Vector[(String, Int, Double, Double)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).toVector.map { case (n, ss) =>
      (n, ss.size, ss.map(_.durNs).sum / 1e6, ss.map(s => self(s.id)).sum / 1e6)
    }.sortBy(_._1)
  }

  /** For each (span name, metric name): the span's total self time per
    * unit of work, in ms. */
  def selfMsPerUnit(spans: Seq[Span], units: Double,
      names: Seq[(String, String)]): Seq[(String, Double, String)] = {
    val self = selfTimes(spans)
    names.map { case (span, metric) =>
      (metric, spans.filter(_.name == span).map(s => self(s.id)).sum / 1e6 / units, "ms")
    }
  }

  /** The per-layer table: span totals with self time, then the layer
    * counts and ratios. */
  def table(spans: Seq[Span], layerMetrics: Seq[(String, Double, String)]): String = {
    val sb = new StringBuilder
    sb ++= f"${"span"}%-34s ${"calls"}%7s ${"total_ms"}%12s ${"self_ms"}%12s\n"
    byName(spans).foreach { case (n, c, tot, self) =>
      sb ++= f"$n%-34s $c%7d $tot%12.1f $self%12.1f\n"
    }
    sb ++= f"${"metric"}%-40s ${"value"}%16s unit\n"
    layerMetrics.foreach { case (n, v, u) =>
      sb ++= f"$n%-40s ${Stats.fmt(v)}%16s $u\n"
    }
    sb.toString
  }
}
