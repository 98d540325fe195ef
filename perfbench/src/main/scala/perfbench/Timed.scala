package perfbench

import java.util.concurrent.atomic.LongAdder
import scala.util.Try

import graft.queue.{EventQueue, Json, StreamSink}

/** Counters of the sink puts a run timed. */
final class SinkTimes {
  val nanos = new LongAdder; val records = new LongAdder; val bytes = new LongAdder
}

/** Times every `putRecord` of the sink it wraps, and marks the calling
  * thread, so the harness can tell an enqueue that flushed from one that did
  * not. */
final class TimedSink(inner: StreamSink, times: SinkTimes) extends StreamSink {
  override def putRecord(data: Array[Byte], partitionKey: String): Unit = {
    val t0 = System.nanoTime()
    inner.putRecord(data, partitionKey)
    times.nanos.add(System.nanoTime() - t0); times.records.increment(); times.bytes.add(data.length)
    TimedSink.mark.get()(0) = true
  }
}

object TimedSink {
  private[perfbench] val mark = ThreadLocal.withInitial[Array[Boolean]](() => Array(false))
}

/** One enqueue, with the façade's first two steps (`enrichAndValidate`,
  * `Json.byteSize`) timed by separate calls just before it. A thread reuses
  * its instance; the fields describe the last call. */
final class TimedEnqueue {
  var enrichNanos = 0L
  var sizeNanos = 0L
  var enqueueNanos = 0L
  /** Whether the enqueue flushed through a [[TimedSink]]. */
  var flushed = false
  /** The enriched event, or null when it was rejected. */
  var enriched: Map[String, Any] = null

  def apply(q: EventQueue, event: Map[String, Any], origin: String): Try[Unit] = {
    val mark = TimedSink.mark.get
    val a = System.nanoTime()
    val en = EventQueue.enrichAndValidate(event, origin, System.currentTimeMillis() * 1000L)
    val b = System.nanoTime()
    en.foreach(Json.byteSize)
    val c = System.nanoTime()
    mark(0) = false
    val r = q.enqueue(event)
    enqueueNanos = System.nanoTime() - c
    enrichNanos = b - a
    sizeNanos = c - b
    flushed = mark(0)
    enriched = en.getOrElse(null)
    r
  }
}
