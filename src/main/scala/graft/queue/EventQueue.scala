package graft.queue

import graft.expr.GoTs
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The streamsurfer client façade, re-created Spark-side (SURVEY §2.A).
  * Public contract mirrors `KinesisQueue` (`/root/reference/main.go:20-24`):
  * `enqueue` (batched, size-triggered flush), `flush` (explicit drain),
  * `send` (immediate single-event record).
  *
  * Semantics preserved exactly (SURVEY §2.A "subtle behaviors"):
  *  - validation: the `event` field must exist and be a String, else
  *    "event field is required" (`main.go:175-177`);
  *  - enrichment before sizing: `server_timestamp` in Go `.999` format via
  *    [[graft.expr.GoTs]] and `origin` (only when non-empty) are added
  *    before the item is measured (`main.go:179-183, 198-203`);
  *  - pre-insert flush: an item whose size would cross the threshold first
  *    drains the *existing* queue and then seeds the next batch — the
  *    trigger item is never in the flushed batch (`main.go:208-228`);
  *  - whole batch = one record: the drained items are serialized as a
  *    single JSON array and emitted via one `putRecord` (`main.go:267-276`);
  *  - partition key = a fresh random-looking key per record
  *    (`main.go:275`) — here a UUID derived from a seeded counter so tests
  *    stay deterministic while shard spread stays uniform;
  *  - I/O outside the lock: the drained batch is sent after the critical
  *    section ends (`main.go:212-222`), so the sink never blocks producers;
  *  - counter clamp: draining never lets `currentSize` go negative
  *    (`main.go:307-309`); the reference re-marshals each drained item to
  *    decrement the counter, here the size stored at enqueue is exact, so
  *    a drain empties the queue and zeroes the counter.
  *
  * Intentional upgrade over the reference (documented, SURVEY §4.1): on a
  * send failure the drained items are RETURNED inside the Failure (the
  * reference drops them, `main.go:213-219`); callers can re-enqueue.
  *
  * Error ARITY vs the reference (`errors.Join`, `main.go:216`): the Go
  * client can in principle accumulate several errors from one `Enqueue`
  * (a flush failure joined with later ones). Here a flush maps the whole
  * drained batch to ONE `putRecord` — one possible failure per call — so
  * `Try` carries a single [[SendFailed]] and nothing is discarded: the
  * arity narrowing is deliberate, traded for the richer payload (the
  * full undelivered batch) that the reference's joined errors lack. If a
  * future sink fans a flush out into multiple records, `sendBatch` is
  * the seam to collect per-record failures into one SendFailed whose
  * batch is the union of the undelivered records.
  */
trait EventQueue {
  def enqueue(event: Map[String, Any]): Try[Unit]
  def flush(): Try[Seq[Map[String, Any]]]
  def send(event: Map[String, Any]): Try[Unit]
}

/** Send failure carrying the batch that was drained but not delivered. */
final case class SendFailed(batch: Seq[Map[String, Any]], cause: Throwable)
  extends RuntimeException(s"send failed for batch of ${batch.size}", cause)

object EventQueue {
  /** Reference default threshold: 1024 BYTES — code-faithful
    * (`main.go:48`; the README's "kilobytes" is the documented
    * discrepancy, SURVEY §4.3). */
  val DefaultMaxSizeBytes: Long = 1024L
  /** Reference default region (`main.go:48,135`) — carried for config
    * fidelity; meaningless for a local sink. */
  val DefaultRegion: String = "sa-east-1"

  /** `New(streamName)` analog (`main.go:47-49`). */
  def apply(streamName: String, sink: StreamSink): Try[EventQueue] =
    withOpts(streamName, DefaultRegion, DefaultMaxSizeBytes, "", "", sink)

  /** `NewWithOrigin` analog (`main.go:62-64`). */
  def withOrigin(streamName: String, origin: String, sink: StreamSink): Try[EventQueue] =
    withOpts(streamName, DefaultRegion, DefaultMaxSizeBytes, origin, "", sink)

  /** `NewWithOriginAndMaxSize` analog (`main.go:78-80`). */
  def withOriginAndMaxSize(streamName: String, origin: String, maxSizeBytes: Long,
                           sink: StreamSink): Try[EventQueue] =
    withOpts(streamName, DefaultRegion, maxSizeBytes, origin, "", sink)

  /** `NewWithStreamArn` analog (`main.go:94-105`): rejects an empty ARN,
    * derives the stream name from the ARN's last `/` segment. */
  def withStreamArn(streamArn: String, origin: String, sink: StreamSink): Try[EventQueue] =
    if (streamArn.isEmpty)
      Failure(new IllegalArgumentException("streamArn is required"))
    else
      extractStreamNameFromArn(streamArn).flatMap(name =>
        withOpts(name, DefaultRegion, DefaultMaxSizeBytes, origin, streamArn, sink))

  /** `NewWithOpts` analog (`main.go:115-157`): name required, region
    * defaulted, zero threshold rejected. */
  def withOpts(streamName: String, region: String, maxSizeBytes: Long,
               origin: String, streamArn: String, sink: StreamSink,
               clock: () => Long = () => System.currentTimeMillis() * 1000L): Try[EventQueue] =
    if (streamName == null || streamName.isEmpty)
      Failure(new IllegalArgumentException("streamName is required"))
    else if (maxSizeBytes == 0)
      Failure(new IllegalArgumentException("maxSizeBytes must be greater than 0"))
    else {
      val r = if (region == null || region.isEmpty) DefaultRegion else region
      Success(new BufferedEventQueue(streamName, r, maxSizeBytes, origin,
        streamArn, sink, clock))
    }

  /** `extractStreamNameFromARN` analog (`main.go:107-113`): split on `/`,
    * exactly two parts or "invalid ARN format". */
  def extractStreamNameFromArn(arn: String): Try[String] = {
    val parts = arn.split("/", -1)
    if (parts.length == 2) Success(parts(1))
    else Failure(new IllegalArgumentException("invalid ARN format"))
  }

  /** `enrichAndValidate` analog (`main.go:174-186`). Returns an enriched
    * COPY (the reference mutates the caller's map in place — an immutable
    * copy is the idiomatic-Scala equivalent; idempotence is property-tested).
    * `origin` is only added when configured non-empty (`main.go:181-183`).
    */
  def enrichAndValidate(event: Map[String, Any], origin: String,
                        nowMicros: Long): Try[Map[String, Any]] =
    event.get("event") match {
      case Some(_: String) =>
        val stamped = event + ("server_timestamp" ->
          GoTs.formatMicros(nowMicros).toString)
        Success(if (origin.nonEmpty) stamped + ("origin" -> origin) else stamped)
      case _ =>
        Failure(new IllegalArgumentException("event field is required"))
    }

  /** The pre-insert-flush rule (`main.go:208-210`), the one definition the
    * façade and `Ingestion.assignBatches` share: an item of `size` bytes
    * arriving with `cur` bytes buffered first flushes the buffer when the
    * buffer is non-empty and the two together reach `max`. */
  def crosses(cur: Long, size: Long, max: Long): Boolean = cur > 0 && cur + size >= max
}

/** The running batch assignment that [[EventQueue.crosses]] implies, over
  * one producer's item sizes in arrival order: `add` returns the bytes
  * buffered before the item, and `batch` is the item's batch number. */
final class BatchScan(max: Long) {
  var batch = 0L
  private var cur = 0L
  def add(size: Long): Long = {
    if (EventQueue.crosses(cur, size, max)) { batch += 1; cur = 0 }
    val before = cur
    cur += size
    before
  }
}

/** The buffered implementation — state mirrors the `kinesisQueue` struct
  * (`main.go:26-35`): FIFO queue + byte counter behind one lock.
  *
  * Each item is JSON-encoded once, on enqueue, and the queue keeps that
  * encoding beside it: it sizes the item, and the batch payload is the
  * stored encodings joined into one array — byte-identical to
  * `Json.encode(batch)` by construction, with no encoding under the lock.
  */
final class BufferedEventQueue private[queue] (
    val streamName: String,
    val region: String,
    val maxSizeBytes: Long,
    val origin: String,
    val streamArn: String,
    sink: StreamSink,
    clock: () => Long) extends EventQueue {
  import BufferedEventQueue.Encoded

  private val lock = new Object
  private var queue = mutable.ArrayBuffer.empty[Encoded]
  private var currentSize: Long = 0L
  private val keySeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test/inspection hook: current buffered byte count. */
  def bufferedBytes: Long = lock.synchronized(currentSize)
  /** Test/inspection hook: current buffered item count. */
  def bufferedCount: Int = lock.synchronized(queue.size)
  /** Test/inspection hook: the stored encoding sizes of the buffered items. */
  def bufferedSizes: Seq[Long] = lock.synchronized(queue.map(_.bytes.length.toLong).toSeq)

  /** `Enqueue` (`main.go:197-231`): enrich → encode (the size) → [lock:
    * maybe drain existing, insert, grow counter] → send the drained batch
    * OUTSIDE the lock.
    */
  override def enqueue(event: Map[String, Any]): Try[Unit] =
    encoded(event).flatMap { item =>
      val itemSize = item.bytes.length.toLong
      val toFlush: mutable.ArrayBuffer[Encoded] = lock.synchronized {
        val drained =
          if (EventQueue.crosses(currentSize, itemSize, maxSizeBytes)) drainLocked()
          else null
        queue += item
        currentSize += itemSize
        drained
      }
      if (toFlush == null) Success(())
      else sendBatch(toFlush)
    }

  /** `Flush` (`main.go:244-264`): drain under lock, send outside it.
    * Success → the sent items (reference returns nil on success; returning
    * them is a strict upgrade the tests rely on); empty queue → empty seq. */
  override def flush(): Try[Seq[Map[String, Any]]] = {
    val batch = lock.synchronized(drainLocked())
    if (batch.isEmpty) Success(Seq.empty)
    else sendBatch(batch).map(_ => itemsOf(batch))
  }

  /** `Send` (`main.go:233-242`): enrich → immediate one-item batch; no
    * queue, no lock. */
  override def send(event: Map[String, Any]): Try[Unit] =
    encoded(event).flatMap(e => sendBatch(mutable.ArrayBuffer(e)))

  /** Enrichment, then the one encoding. Encoding inside Try: a non-finite
    * number fails THIS call loudly (upgrade over the reference, which
    * discards the sizing-marshal error (main.go:202) and lets the bad item
    * poison the whole batch at send time). */
  private def encoded(event: Map[String, Any]): Try[Encoded] =
    EventQueue.enrichAndValidate(event, origin, clock())
      .flatMap(e => Try(Encoded(e, Json.encodeBytes(e))))

  /** `drainItems` (`main.go:291-312`) pops FIFO while the counter is
    * positive, decrementing by each item's size and clamping at zero. The
    * counter is exactly the sum of the stored sizes, each at least 2 bytes
    * (`{}`), so that loop always ends with the queue empty and the counter
    * zero: here it takes the whole queue at once. Caller holds the lock. */
  private def drainLocked(): mutable.ArrayBuffer[Encoded] = {
    val out = queue
    queue = mutable.ArrayBuffer.empty[Encoded]
    currentSize = 0L
    out
  }

  /** `sendToKinesis` (`main.go:266-289`): whole batch as ONE JSON-array
    * record, fresh partition key per record. On failure the batch rides
    * inside the Failure (upgrade over the reference's silent drop). */
  private def sendBatch(batch: mutable.ArrayBuffer[Encoded]): Try[Unit] =
    Try(sink.putRecord(BufferedEventQueue.payload(batch), nextPartitionKey()))
      .recoverWith { case e => Failure(SendFailed(itemsOf(batch), e)) }

  private def itemsOf(batch: mutable.ArrayBuffer[Encoded]): Seq[Map[String, Any]] =
    batch.view.map(_.item).toList

  /** UUID-shaped partition key from a counter (deterministic for tests,
    * uniform for sharding — the reference uses `uuid.NewString()`,
    * `main.go:275`). */
  private def nextPartitionKey(): String =
    new java.util.UUID(streamName.hashCode.toLong, keySeq.getAndIncrement()).toString
}

private object BufferedEventQueue {
  /** An enriched item and its JSON encoding. */
  final case class Encoded(item: Map[String, Any], bytes: Array[Byte])

  /** `[` + the encodings joined by `,` + `]`: what `Json.encode` writes
    * for the sequence of items. */
  def payload(batch: mutable.ArrayBuffer[Encoded]): Array[Byte] = {
    var total = 1 + batch.size
    batch.foreach(total += _.bytes.length)
    val out = new Array[Byte](total)
    out(0) = '['
    var at = 1
    batch.foreach { e =>
      if (at > 1) { out(at) = ','; at += 1 }
      System.arraycopy(e.bytes, 0, out, at, e.bytes.length)
      at += e.bytes.length
    }
    out(at) = ']'
    out
  }
}
