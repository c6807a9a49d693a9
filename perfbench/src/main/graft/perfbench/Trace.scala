package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at top level); spans of one timed operation share `op`.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** In-memory span recorder for one thread. Spans nest through a stack, so a
  * span opened inside another becomes its child. Written out once, at exit.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: Int)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, op)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  def writeJson(path: Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.iterator.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    sb ++= "\n]\n"
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {

  /** Seconds of self time per span name: each span's duration minus the
    * part of its interval that its children cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = union(children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  /** Total length of the union of [start, end) intervals. */
  private[perfbench] def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    total + (curE - curS)
  }
}
