package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call. `op` is the id of the operation instance the call
  * belongs to; the root span of an operation is its own parent (0).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Long, end: Long) {
  def nanos: Long = end - start
}

/** Spans around the benchmark's calls into graft, kept in memory and
  * summarised at the end. When disabled, a span costs one branch.
  */
final class Trace {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A root span: the whole operation `name` with instance id `op`. */
  def root[T](name: String, op: Long)(body: => T): T = record(name, 0L, op)(body)

  def span[T](name: String)(body: => T): T = stack.get() match {
    case (parent, op) :: _ if enabled => record(name, parent, op)(body)
    case _ => body
  }

  private def record[T](name: String, parent: Long, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val saved = stack.get()
      stack.set((id, op) :: saved)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(saved)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Writes every span as one JSON line (times in ns from an arbitrary origin). */
  def write(path: String): Unit = java.nio.file.Files.write(java.nio.file.Paths.get(path),
    all.sortBy(_.start).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start": ${s.start}, "end": ${s.end}}""").asJava)

  /** Per operation name: its mean wall per instance and, per span name
    * under it, the mean self time (duration minus the part covered by
    * child spans). The root's own self time is the wall no child
    * covers, reported as "(uncovered)". Self times add up to the wall.
    */
  def selfTimes: Seq[(String, Double, Seq[(String, Double)])] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def self(s: Span): Long =
      s.nanos - Trace.union(children.getOrElse(s.id, Nil).map(c => (c.start max s.start, c.end min s.end)))
    ss.filter(_.parent == 0L).groupBy(_.name).toSeq.sortBy(_._1).map { case (opName, roots) =>
      val n = roots.size.toDouble
      val byName = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      def walk(s: Span): Unit = {
        val key = if (s.parent == 0L) "(uncovered)" else s.name
        byName(key) = byName.getOrElse(key, 0L) + self(s)
        children.getOrElse(s.id, Nil).sortBy(_.start).foreach(walk)
      }
      roots.foreach(walk)
      (opName, roots.map(_.nanos).sum / n / 1e9,
        byName.toSeq.map { case (k, v) => (k, v / n / 1e9) })
    }
  }

  /** Seconds of each call named `name` made under operations named
    * `opName`.
    */
  def callSeconds(opName: String, name: String): Seq[Double] = {
    val ss = all
    val opIds = ss.filter(s => s.parent == 0L && s.name == opName).map(_.op).toSet
    ss.filter(s => s.name == name && opIds(s.op)).map(_.nanos / 1e9)
  }
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered
  }
}
