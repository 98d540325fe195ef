package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One traced interval. Times are epoch microseconds so spans taken by the
  * harness line up with the millisecond times Spark's listeners report. */
final case class Span(id: Int, parent: Int, name: String, key: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span log of a traced run, written out when the run ends.
  * Spans of one operation (a key-run, a micro-batch, an ingest round) share
  * a key; a layer's self time is its duration minus the part of it that its
  * child spans cover. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val t0Nanos = System.nanoTime()
  private val t0Us = System.currentTimeMillis() * 1000L

  /** A `System.nanoTime` reading as epoch microseconds. */
  def usOf(nanos: Long): Long = t0Us + (nanos - t0Nanos) / 1000L

  def add(parent: Int, name: String, key: String, startUs: Long, endUs: Long): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, name, key, startUs, endUs)
      id
    }

  private def all: Seq[Span] = synchronized(spans.toSeq)

  /** The span's duration minus the union of its children's intervals. */
  def selfUs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    s.durUs - covered
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map(s => Out.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Out.str(s.name), "key" -> Out.str(s.key),
      "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString)))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
