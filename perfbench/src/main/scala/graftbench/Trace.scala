package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** One timed call from the benchmark into a layer of graft. Spans of one
  * job share `job`; `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, name: String, layer: String, job: Long,
    parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, used only on the main thread. When disabled,
  * `span` runs its body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var job = -1L

  def newJob(id: Long): Unit = job = id

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the span ends
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, layer, job, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self time per layer in ms: each span's duration minus the part of it
    * its child spans cover (children run sequentially on this thread). */
  def selfMsByLayer(filter: Span => Boolean = _ => true): Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.iterator.filter(filter)
      .map(s => s.layer -> (s.durNs - childNs(s.id)) / 1e6)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def dump(path: Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","job":${s.job},""" +
        s""""parent":${s.parent},"start_us":${(s.startNs - t0) / 1000},"end_us":${(s.endNs - t0) / 1000}}""")
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val Off = new Tracer(false)
}
