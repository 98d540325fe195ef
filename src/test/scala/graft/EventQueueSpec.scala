package graft

import graft.queue._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success}

/** Unit suite for the streamsurfer façade (SURVEY §2.A) — validation,
  * enrichment, factories/ARN, and the pre-insert-flush batching boundary
  * (`/root/reference/main.go:208-228` is the spec for every scenario here).
  */
class EventQueueSpec extends AnyFunSuite {

  private val T0 = 1704067200000000L // 2024-01-01T00:00:00Z in micros
  private def newQueue(max: Long, origin: String = ""): (BufferedEventQueue, InMemorySink) = {
    val sink = new InMemorySink
    val q = EventQueue.withOpts("stream", "", max, origin, "", sink, () => T0)
      .get.asInstanceOf[BufferedEventQueue]
    (q, sink)
  }
  private def ev(pad: Int): Map[String, Any] =
    Map("event" -> "purchase", "pad" -> ("x" * pad))

  // --- validation / enrichment (main.go:174-186) ---

  test("missing event field is rejected with the reference's message") {
    val (q, _) = newQueue(1024)
    val Failure(e) = q.enqueue(Map("other" -> "x"))
    assert(e.getMessage == "event field is required")
  }

  test("non-string event field is rejected") {
    val (q, _) = newQueue(1024)
    assert(q.enqueue(Map("event" -> 42)).isFailure)
    assert(q.send(Map("event" -> List(1))).isFailure)
  }

  test("non-finite numbers fail the enqueue instead of corrupting payloads") {
    // Go's json.Marshal errors on NaN/Inf; a bare NaN token in a batch
    // payload would silently break every consumer of the record
    val (q, sink) = newQueue(1024)
    assert(q.enqueue(Map("event" -> "e", "value" -> Double.NaN)).isFailure)
    assert(q.send(Map("event" -> "e", "value" -> Double.PositiveInfinity)).isFailure)
    assert(q.enqueue(Map("event" -> "ok", "value" -> 1.5)).isSuccess)
    q.flush().get
    assert(sink.records().size == 1 && !sink.records().head._1.contains("NaN"))
  }

  test("enrichment adds server_timestamp and conditionally origin") {
    val with0 = EventQueue.enrichAndValidate(Map("event" -> "e"), "", T0).get
    assert(with0("server_timestamp") == "2024-01-01T00:00:00Z")
    assert(!with0.contains("origin"))
    val withO = EventQueue.enrichAndValidate(Map("event" -> "e"), "app", T0).get
    assert(withO("origin") == "app")
  }

  test("enrichment happens BEFORE sizing (main.go:198-203)") {
    // An event whose raw size is under the threshold but whose enriched
    // size crosses it must trigger on the enriched size.
    val bare = Map[String, Any]("event" -> "e")
    val enriched = EventQueue.enrichAndValidate(bare, "app", T0).get
    val raw = Json.byteSize(bare)
    val fat = Json.byteSize(enriched)
    assert(fat > raw)
    val (q, sink) = newQueue(fat + raw) // raw+raw wouldn't trigger; fat+raw does
    assert(q.enqueue(bare).isSuccess)   // buffers `fat` bytes
    assert(q.enqueue(bare).isSuccess)   // fat + fat >= fat + raw → flush
    assert(sink.records().size == 1)
  }

  // --- factories / ARN (main.go:47-113) ---

  test("factory validation mirrors NewWithOpts") {
    val sink = new InMemorySink
    assert(EventQueue.withOpts("", "r", 10, "", "", sink).isFailure)
    assert(EventQueue.withOpts("s", "r", 0, "", "", sink).isFailure)
    val q = EventQueue.withOpts("s", "", 10, "", "", sink).get
      .asInstanceOf[BufferedEventQueue]
    assert(q.region == EventQueue.DefaultRegion) // sa-east-1 default
    assert(EventQueue("s", sink).get.asInstanceOf[BufferedEventQueue]
      .maxSizeBytes == 1024L) // BYTES, code-faithful (main.go:48)
  }

  test("withOrigin mirrors NewWithOrigin: origin stamped, 1024 B, sa-east-1") {
    val sink = new InMemorySink
    val q = EventQueue.withOrigin("s", "app", sink).get
      .asInstanceOf[BufferedEventQueue]
    assert(q.maxSizeBytes == 1024L)
    assert(q.region == "sa-east-1")
    assert(q.enqueue(Map("event" -> "e")).isSuccess)
    val Success(Seq(item)) = q.flush()
    assert(item("origin") == "app")
    assert(sink.records().size == 1)
    assert(sink.records().head._1.contains("\"origin\":\"app\""))
  }

  test("ARN extraction: exactly two /-parts or 'invalid ARN format'") {
    assert(EventQueue.extractStreamNameFromArn(
      "arn:aws:kinesis:us-east-1:123:stream/name").get == "name")
    val Failure(e1) = EventQueue.extractStreamNameFromArn("no-slash")
    assert(e1.getMessage == "invalid ARN format")
    assert(EventQueue.extractStreamNameFromArn("a/b/c").isFailure)
    assert(EventQueue.withStreamArn("", "o", new InMemorySink).isFailure)
    assert(EventQueue.withStreamArn("acc:stream/other", "o", new InMemorySink)
      .get.asInstanceOf[BufferedEventQueue].streamName == "other")
  }

  // --- pre-insert flush (main.go:208-228) ---

  test("item crossing the threshold flushes EXISTING items and seeds next batch") {
    val (q, sink) = newQueue(1024)
    val size1 = Json.byteSize(EventQueue.enrichAndValidate(ev(100), "", T0).get)
    val n = (1024 / size1).toInt // items that fit strictly under threshold
    (1 to n).foreach(_ => assert(q.enqueue(ev(100)).isSuccess))
    assert(sink.records().isEmpty) // nothing flushed yet
    assert(q.enqueue(ev(100)).isSuccess) // crosses → flush previous n
    val recs = sink.records()
    assert(recs.size == 1)
    // the trigger item is NOT in the flushed payload; it seeds the buffer
    assert(recs.head._1.count(_ == '{') == n) // n item objects in the array
    assert(q.bufferedCount == 1)
    assert(q.bufferedBytes == size1)
  }

  test("single oversized item flushes previous items first, then buffers alone") {
    val (q, sink) = newQueue(1024)
    assert(q.enqueue(ev(10)).isSuccess)
    assert(q.enqueue(ev(5000)).isSuccess) // oversized: flushes the 1 prior item
    assert(sink.records().size == 1)
    assert(q.bufferedCount == 1) // the oversized item itself is buffered
    val Success(items) = q.flush()
    assert(items.size == 1)
    assert(sink.records().size == 2)
  }

  test("oversized item into an EMPTY queue drains nothing and buffers (main.go:208-210)") {
    val (q, sink) = newQueue(64)
    assert(q.enqueue(ev(500)).isSuccess)
    assert(sink.records().isEmpty) // drain of empty queue → no record
    assert(q.bufferedCount == 1)
  }

  // --- flush / send (main.go:233-264) ---

  test("flush drains FIFO and empty flush is a success with no record") {
    val (q, sink) = newQueue(100000)
    assert(q.flush() == Success(Seq.empty))
    q.enqueue(Map("event" -> "a")); q.enqueue(Map("event" -> "b"))
    val Success(items) = q.flush()
    assert(items.map(_("event")) == Seq("a", "b"))
    assert(q.bufferedBytes == 0 && q.bufferedCount == 0)
    assert(sink.records().size == 1)
    // whole batch is ONE record: a JSON array payload (main.go:267-276)
    assert(sink.records().head._1.startsWith("["))
  }

  test("send bypasses the queue: one record per event, queue untouched") {
    val (q, sink) = newQueue(100000)
    q.enqueue(Map("event" -> "queued"))
    assert(q.send(Map("event" -> "direct")).isSuccess)
    assert(sink.records().size == 1)
    assert(sink.records().head._1.contains("direct"))
    assert(q.bufferedCount == 1) // queued item still buffered
  }

  test("send failure returns the drained batch (upgrade over main.go:213-219)") {
    val (q, sink) = newQueue(100000)
    q.enqueue(Map("event" -> "a")); q.enqueue(Map("event" -> "b"))
    sink.failNext = true
    val Failure(e: SendFailed) = q.flush()
    assert(e.batch.size == 2) // recoverable — reference would drop them
    assert(q.bufferedCount == 0)
  }

  test("partition keys are unique per record (main.go:275 uuid policy)") {
    val (q, sink) = newQueue(100000)
    (1 to 5).foreach(i => q.send(Map("event" -> s"e$i")))
    val keys = sink.records().map(_._2)
    assert(keys.distinct.size == 5)
  }

  // --- end-to-end smoke over the fixture (SURVEY §5.2 item 4) ---

  test("fixture events round-trip through LocalSink with byte conservation") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val sink = new LocalSink(dir)
    val q = EventQueue.withOriginAndMaxSize("s", "graft-app", 4096, sink)
      .get.asInstanceOf[BufferedEventQueue]
    val rows = spark.read.parquet(s"${TestSpark.Sf0001}/events.parquet")
      .selectExpr("event_type", "cast(event_id as string) as event_id")
      .limit(200).collect()
    rows.foreach { r =>
      assert(q.enqueue(Map("event" -> r.getString(0),
        "event_id" -> r.getString(1))).isSuccess)
    }
    q.flush()
    val payloads = sink.records()
    assert(payloads.nonEmpty)
    // conservation: every enqueued event appears exactly once across
    // records (each payload is [{...},{...},...]; the item maps hold only
    // brace-free strings, so '{' count == item count)
    assert(payloads.map(_.count(_ == '{')).sum == rows.length)
    // each payload respects the reference's batch shape: one JSON array
    payloads.foreach(p => assert(p.startsWith("[") && p.endsWith("]")))
  }

  // --- concurrency: the reference's one nontrivial concurrent behavior ---
  // (main.go:205-222: mutex-serialized Enqueue with I/O outside the lock;
  // r7 verdict item 5 — previously only single-thread tested)

  test("N threads hammering enqueue lose nothing, duplicate nothing, conserve bytes") {
    val nThreads = 8
    val perThread = 250
    val maxBytes = 400L
    val (q, sink) = newQueue(maxBytes)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          q.enqueue(Map("event" -> "e", "id" -> s"$t-$i")).get
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent enqueue failed: ${errs.peek()}")
    assert(q.flush().isSuccess)
    // nothing buffered after the final drain — counter and queue agree
    assert(q.bufferedBytes == 0L && q.bufferedCount == 0)
    val payloads = sink.records().map(_._1)
    // no lost / no duplicated items: every (thread, i) id exactly once
    val idRe = """"id":"(\d+-\d+)"""".r
    val ids = payloads.flatMap(p => idRe.findAllMatchIn(p).map(_.group(1)))
    assert(ids.length == nThreads * perThread,
      s"item count ${ids.length} != ${nThreads * perThread}")
    assert(ids.distinct.length == ids.length, "duplicated items in payloads")
    // byte conservation: the enriched items' encoded bytes all arrive.
    // Every payload is [i1,...,in]: item bytes = len - brackets - commas.
    val itemCounts = payloads.map(_.count(_ == '{'))
    val arrivedItemBytes = payloads.zip(itemCounts)
      .map { case (p, n) => p.getBytes("UTF-8").length - 2 - (n - 1) }.sum
    val expectedBytes = (0 until nThreads).flatMap(t =>
      (0 until perThread).map(i =>
        Json.byteSize(EventQueue.enrichAndValidate(
          Map("event" -> "e", "id" -> s"$t-$i"), "", T0).get))).sum
    assert(arrivedItemBytes.toLong == expectedBytes,
      s"byte conservation broke: arrived $arrivedItemBytes != $expectedBytes")
    // every batch respects the pre-insert-flush bound: a drain empties the
    // whole queue, whose bytes never exceed threshold + one item's size
    val maxItem = (0 until nThreads).flatMap(t => (0 until perThread).map(i =>
      Json.byteSize(EventQueue.enrichAndValidate(
        Map("event" -> "e", "id" -> s"$t-$i"), "", T0).get))).max
    payloads.zip(itemCounts).foreach { case (p, n) =>
      val itemBytes = p.getBytes("UTF-8").length - 2 - (n - 1)
      assert(itemBytes < maxBytes + maxItem,
        s"batch of $itemBytes bytes exceeds threshold $maxBytes + max item $maxItem")
    }
  }

  test("concurrent send + enqueue interleaving conserves bytes and batch invariants") {
    // r8 verdict item 8: send() bypasses the queue lock BY DESIGN
    // (main.go:233-242 — no queue, no lock, straight to the sink), so an
    // interleaved workload must show (a) sends never batch with queued
    // items — every send arrives as its own single-item record — and (b)
    // the queue's byte counter and FIFO invariants are untouched by the
    // lock-free traffic racing past them.
    val nThreads = 8 // even: threads 0..3 enqueue, 4..7 send
    val perThread = 250
    val maxBytes = 400L
    val (q, sink) = newQueue(maxBytes)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          if (t < nThreads / 2) q.enqueue(Map("event" -> "e", "id" -> s"$t-$i")).get
          else q.send(Map("event" -> "e", "id" -> s"$t-$i")).get
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent send/enqueue failed: ${errs.peek()}")
    assert(q.flush().isSuccess)
    assert(q.bufferedBytes == 0L && q.bufferedCount == 0)
    val payloads = sink.records().map(_._1)
    // nothing lost, nothing duplicated, across BOTH paths
    val idRe = """"id":"(\d+-\d+)"""".r
    val ids = payloads.flatMap(p => idRe.findAllMatchIn(p).map(_.group(1)))
    assert(ids.length == nThreads * perThread,
      s"item count ${ids.length} != ${nThreads * perThread}")
    assert(ids.distinct.length == ids.length, "duplicated items in payloads")
    // the send path never rides a drain batch: every payload containing a
    // send id holds exactly that one item
    val sendIds = (nThreads / 2 until nThreads)
      .flatMap(t => (0 until perThread).map(i => s"$t-$i")).toSet
    payloads.foreach { p =>
      val mine = idRe.findAllMatchIn(p).map(_.group(1)).toSeq
      if (mine.exists(sendIds))
        assert(mine.length == 1 && p.count(_ == '{') == 1,
          s"a send was batched with ${mine.length - 1} queued items")
    }
    // byte conservation over the union of both paths
    val arrivedItemBytes = payloads.map { p =>
      val n = p.count(_ == '{')
      p.getBytes("UTF-8").length - 2 - (n - 1)
    }.sum
    val expectedBytes = (0 until nThreads).flatMap(t =>
      (0 until perThread).map(i =>
        Json.byteSize(EventQueue.enrichAndValidate(
          Map("event" -> "e", "id" -> s"$t-$i"), "", T0).get))).sum
    assert(arrivedItemBytes.toLong == expectedBytes,
      s"byte conservation broke: arrived $arrivedItemBytes != $expectedBytes")
    // drain batches still respect the pre-insert-flush bound despite the
    // racing send traffic
    val maxItem = (0 until nThreads / 2).flatMap(t => (0 until perThread).map(i =>
      Json.byteSize(EventQueue.enrichAndValidate(
        Map("event" -> "e", "id" -> s"$t-$i"), "", T0).get))).max
    payloads.foreach { p =>
      val n = p.count(_ == '{')
      val itemBytes = p.getBytes("UTF-8").length - 2 - (n - 1)
      if (n > 1) assert(itemBytes < maxBytes + maxItem,
        s"batch of $itemBytes bytes exceeds threshold $maxBytes + max item $maxItem")
    }
  }
}
