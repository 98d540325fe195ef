package graft

import graft.queue._
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** scalacheck property families (SURVEY §5.2 item 3): batching conservation,
  * FIFO, the pre-insert-flush invariant, counter clamp, ARN parsing, and
  * enrichment idempotence — each pinned to its reference behavior.
  */
object BatchingProps extends Properties("batching") {

  private val T0 = 1704067200000000L

  private val genEvent: Gen[Map[String, Any]] = for {
    name <- Gen.alphaLowerStr.map(s => "e" + s.take(8))
    pad  <- Gen.choose(0, 300)
  } yield Map("event" -> name, "pad" -> ("x" * pad))

  private val genEvents: Gen[List[Map[String, Any]]] =
    Gen.nonEmptyListOf(genEvent).map(_.take(60))

  private val genMax: Gen[Long] = Gen.choose(16L, 2048L)

  private def run(events: List[Map[String, Any]], max: Long)
      : (BufferedEventQueue, InMemorySink) = {
    val sink = new InMemorySink
    val q = EventQueue.withOpts("s", "", max, "app", "", sink, () => T0)
      .get.asInstanceOf[BufferedEventQueue]
    events.foreach(e => q.enqueue(e).get)
    (q, sink)
  }

  /** Conservation: enqueued items = flushed items + still-buffered items,
    * and the buffered byte counter equals the byte sum of buffered items
    * (drain decrements by re-measured size, main.go:303-304). */
  property("conservation") = forAll(genEvents, genMax) { (evs, max) =>
    val (q, sink) = run(evs, max)
    val flushedItems = sink.records().map(_._1.count(_ == '{')).sum
    flushedItems + q.bufferedCount == evs.length
  }

  /** FIFO: concatenating all flushed payloads + the final flush preserves
    * enqueue order of the `event` field (queue is FIFO, main.go:291-312). */
  property("fifo-order") = forAll(genEvents, genMax) { (evs, max) =>
    val (q, sink) = run(evs, max)
    q.flush().get
    val names = sink.records().map(_._1)
      .flatMap("\"event\":\"([^\"]*)\"".r.findAllMatchIn(_).map(_.group(1)))
    names == evs.map(_("event"))
  }

  /** Pre-insert-flush invariant: a flush is triggered only when the
    * pre-existing buffered bytes plus the incoming item's size reach the
    * threshold, and the trigger item always survives into the buffer
    * (main.go:208-228) — so after every enqueue the buffer is non-empty. */
  property("trigger-item-seeds-next-batch") = forAll(genEvents, genMax) { (evs, max) =>
    val sink = new InMemorySink
    val q = EventQueue.withOpts("s", "", max, "", "", sink, () => T0)
      .get.asInstanceOf[BufferedEventQueue]
    Prop.all(evs.map { e =>
      q.enqueue(e).get
      Prop(q.bufferedCount >= 1) :| "buffer non-empty after enqueue"
    }: _*)
  }

  /** Counter clamp: bufferedBytes never goes negative and is exactly the
    * sum of the buffered items' encoded sizes (clamp at main.go:307-309). */
  property("counter-clamp-and-exactness") = forAll(genEvents, genMax) { (evs, max) =>
    val (q, sink) = run(evs, max)
    val expected = {
      // re-derive: only items enqueued after the last flush are buffered
      val flushed = sink.records().map(_._1.count(_ == '{')).sum
      evs.drop(flushed)
        .map(e => Json.byteSize(EventQueue.enrichAndValidate(e, "app", T0).get))
        .sum
    }
    q.bufferedBytes >= 0 && q.bufferedBytes == expected
  }

  /** Batch payloads respect the threshold the way the reference does: each
    * record's item count is maximal — the batch plus its trigger item
    * reached the threshold (a batch alone may be under it). */
  property("flush-only-at-threshold") = forAll(genEvents, genMax) { (evs, max) =>
    val sink = new InMemorySink
    val q = EventQueue.withOpts("s", "", max, "", "", sink, () => T0)
      .get.asInstanceOf[BufferedEventQueue]
    // replay the reference's trigger rule independently: a flush happens
    // iff pre-size + item size reaches max AND the buffer is non-empty
    // (main.go:208-210) — the sink must see exactly those records.
    var predicted = 0
    evs.foreach { e =>
      val pre = q.bufferedBytes
      val sz = Json.byteSize(EventQueue.enrichAndValidate(e, "", T0).get)
      if (pre + sz >= max && pre > 0) predicted += 1
      q.enqueue(e).get
    }
    val emitted = sink.records().size
    (Prop(emitted == predicted)
      :| s"emitted $emitted records, trigger rule predicts $predicted") &&
      Prop(sink.records().forall(_._1.count(_ == '{') > 0))
  }

  /** ARN parsing (main.go:107-113): name/`/`-count round trip. */
  property("arn-round-trip") = forAll(Gen.identifier, Gen.identifier) { (acc, name) =>
    EventQueue.extractStreamNameFromArn(s"$acc/$name").get == name
  }
  property("arn-reject-wrong-shape") = forAll(Gen.identifier) { s =>
    EventQueue.extractStreamNameFromArn(s).isFailure &&
    EventQueue.extractStreamNameFromArn(s"a/b/$s").isFailure
  }

  /** Enrichment idempotence: enriching an already-enriched event with the
    * same clock/origin is a no-op (reference mutates in place; re-running
    * it overwrites with identical values, main.go:174-186). */
  property("enrichment-idempotent") = forAll(genEvent) { e =>
    val once = EventQueue.enrichAndValidate(e, "app", T0).get
    EventQueue.enrichAndValidate(once, "app", T0).get == once
  }

  /** One batching rule: the façade's flushes and `BatchScan` (the scan
    * `Ingestion.assignBatches` runs per producer) assign every item of a
    * random size sequence to the same batch, with the same bytes buffered
    * before it. */
  property("facade-and-batch-scan-agree") =
    forAll(Gen.listOf(Gen.choose(0, 400)).map(_.take(80)), genMax) { (pads, max) =>
      val sink = new InMemorySink
      val q = EventQueue.withOpts("s", "", max, "", "", sink, () => T0)
        .get.asInstanceOf[BufferedEventQueue]
      val scan = new BatchScan(max)
      val (batches, befores) = pads.map { pad =>
        val e = Map[String, Any]("event" -> "e", "pad" -> ("x" * pad))
        val size = Json.byteSize(EventQueue.enrichAndValidate(e, "", T0).get)
        val before = scan.add(size)
        q.enqueue(e).get
        ((scan.batch, sink.records().size.toLong), (before, q.bufferedBytes - size))
      }.unzip
      Prop(batches.forall { case (a, b) => a == b }) :| s"batch ids $batches" &&
        Prop(befores.forall { case (a, b) => a == b }) :| s"bytes before $befores"
    }

  private sealed trait Op
  private final case class Enqueue(e: Map[String, Any]) extends Op
  private final case class Send(e: Map[String, Any]) extends Op
  private case object Flush extends Op
  private case object FailNext extends Op

  private val genItem: Gen[Map[String, Any]] = for {
    name <- Gen.oneOf("view", "buy", "é<&>")
    pad  <- Gen.frequency(8 -> Gen.choose(0, 200), 1 -> Gen.choose(1000, 2500))
    n    <- Gen.choose(-1000, 1000)
    nest <- Gen.oneOf(true, false)
  } yield {
    val base = Map[String, Any]("event" -> name, "pad" -> ("ü" * pad), "n" -> n / 8.0)
    if (nest) base + ("tags" -> Seq("a", Map("k" -> 1L, "\uff61" -> null))) else base
  }
  private val genOps: Gen[List[Op]] = Gen.listOf(Gen.frequency(
    12 -> genItem.map(Enqueue(_)), 2 -> genItem.map(Send(_)),
    1 -> Gen.const(Flush), 1 -> Gen.const(FailNext))).map(_.take(60))

  /** Encode once: over random operation sequences (oversize items, `send`,
    * a failing sink whose `SendFailed.batch` is then re-enqueued), every
    * payload is `Json.encode` of its batch, in order, and after every
    * operation the byte counter is the sum of the stored encodings' sizes.
    * The model spells the pre-insert-flush rule out independently. */
  property("payload-is-encode-of-batch") = forAll(genOps, genMax) { (ops, max) =>
    val sink = new InMemorySink
    val q = EventQueue.withOpts("s", "", max, "app", "", sink, () => T0)
      .get.asInstanceOf[BufferedEventQueue]
    var buf = Vector.empty[Map[String, Any]]
    val want = scala.collection.mutable.ArrayBuffer.empty[String]
    var failing = false
    var ok = true
    def enrich(e: Map[String, Any]) = EventQueue.enrichAndValidate(e, "app", T0).get
    // the model's delivery: the payload lands unless the sink is failing,
    // in which case the batch comes back for re-enqueueing
    def deliver(batch: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
      if (failing) { failing = false; batch } else { want += Json.encode(batch); Nil }
    def check(): Unit = {
      val cur = buf.map(Json.byteSize).sum
      ok &&= q.bufferedBytes == q.bufferedSizes.sum && q.bufferedBytes == cur &&
        sink.records().map(_._1) == want.toSeq
    }
    def enqueue(e: Map[String, Any]): Unit = {
      val en = enrich(e)
      val size = Json.byteSize(en)
      val cur = buf.map(Json.byteSize).sum
      val back =
        if (cur > 0 && cur + size >= max) { val b = buf; buf = Vector.empty; deliver(b) }
        else Nil
      buf :+= en
      val r = q.enqueue(e)
      ok &&= (back.isEmpty == r.isSuccess)
      check()
      reEnqueue(r.failed.toOption, back)
    }
    def reEnqueue(failure: Option[Throwable], back: Seq[Map[String, Any]]): Unit =
      failure.foreach {
        case SendFailed(batch, _) =>
          ok &&= batch == back
          batch.foreach(enqueue)
        case _ => ok = false
      }
    ops.foreach {
      case Enqueue(e) => enqueue(e)
      case Send(e) =>
        val back = deliver(Seq(enrich(e)))
        val r = q.send(e)
        check()
        reEnqueue(r.failed.toOption, back)
      case Flush =>
        val b = buf; buf = Vector.empty
        val back = if (b.isEmpty) Nil else deliver(b)
        val r = q.flush()
        ok &&= r.toOption.forall(_ == b)
        check()
        reEnqueue(r.failed.toOption, back)
      case FailNext =>
        failing = true; sink.failNext = true
    }
    failing = false; sink.failNext = false
    val rest = buf; buf = Vector.empty
    if (rest.nonEmpty) deliver(rest)
    ok &&= q.flush().toOption.contains(rest)
    check()
    Prop(ok) :| s"payloads ${sink.records().map(_._1)} expected $want"
  }

  /** Required-field rejection (main.go:175-177). */
  property("enrichment-rejects-missing-event") = forAll(Gen.identifier) { k =>
    EventQueue.enrichAndValidate(Map(("not_" + k) -> "v"), "", T0).isFailure
  }
}
