package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed region around a call into the engine. `parent` is -1 for a
  * root; spans of one call share `callId`.
  */
final case class Span(id: Int, parent: Int, name: String, callId: Long,
                      startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the benchmark's single driver thread. The
  * innermost open span is the parent of the next one. Spans are kept in
  * memory and written out once, at exit.
  */
final class Tracer {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long, Long)] = Nil // id, name, call, start
  private var nextId = 0

  def span[A](name: String, callId: Long)(f: => A): (A, Span) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, callId, System.nanoTime()) :: open
    val r = try f finally {
      val (_, _, _, t0) = open.head
      open = open.tail
      done += Span(id, parent, name, callId, t0, System.nanoTime())
    }
    (r, done.last)
  }

  def spans: Vector[Span] = done.toVector.sortBy(_.id)

  /** JSON lines, one span per line, with its self time. */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val lines = all.map { s =>
      val self = Trace.selfTimeNs(s, kids.getOrElse(s.id, Vector.empty))
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","call":${s.callId},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** A span's self time: its duration minus the part of its interval that
    * its children cover (overlapping children count once).
    */
  def selfTimeNs(s: Span, children: Seq[Span]): Long = {
    val iv = children
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durationNs - covered
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}
