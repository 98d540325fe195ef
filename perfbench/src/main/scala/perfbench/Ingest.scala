package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.queue.{EventQueue, Json, StreamSink}
import perfbench.Checks.ProducerInput

/** Keeps every payload for the checker. */
final class CountingSink extends StreamSink {
  val payloads = new ConcurrentLinkedQueue[Array[Byte]]()
  override def putRecord(data: Array[Byte], partitionKey: String): Unit = payloads.add(data)
}

/** Seeded event streams for the façade. Sizes are skewed: most events are
  * 80-300 B, about 5 % are 600-1000 B and about 0.5 % exceed the 1024 B
  * threshold on their own. Strings carry characters JSON must escape and
  * non-ASCII text; some events nest maps and arrays. Each carries its
  * producer and a per-producer sequence number, so the checker can find it.
  * About 1 % lack `event` (expected rejections) and about 2 % go through
  * `send` instead of `enqueue`. */
object IngestGen {
  private val Types = Array("purchase", "view", "click", "signup", "error")
  private val Chars = "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ 0123456789" +
    "\"\\\n\t/éüñ€漢字"

  private def str(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Chars.charAt(r.nextInt(Chars.length))); i += 1 }
    sb.toString
  }

  def producer(seed: Long, p: Int, n: Int): ProducerInput = {
    val r = new SplittableRandom(seed * 1000003L + p)
    val events = new Array[Map[String, Any]](n)
    val sent = new Array[Boolean](n)
    val valid = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      valid(i) = r.nextDouble() >= 0.01
      sent(i) = r.nextDouble() < 0.02
      val u = r.nextDouble()
      val target =
        if (u < 0.005) 1100 + r.nextInt(400)
        else if (u < 0.055) 600 + r.nextInt(400)
        else 80 + r.nextInt(220)
      var m: Map[String, Any] =
        Map("producer" -> p, "seq" -> i.toLong, "value" -> r.nextInt(100000) / 100.0)
      if (valid(i)) m += "event" -> Types(r.nextInt(Types.length))
      if (r.nextBoolean()) m += "user" -> Map("id" -> r.nextLong(1000000L), "name" -> str(r, 4 + r.nextInt(12)))
      if (r.nextInt(3) == 0) m += "tags" -> Seq.fill(1 + r.nextInt(3))(str(r, 3 + r.nextInt(5)))
      if (r.nextInt(4) == 0) m += "props" -> Map("k" -> r.nextInt(100),
        "nested" -> Map("ok" -> r.nextBoolean(), "xs" -> Seq(r.nextInt(9), r.nextInt(9), r.nextInt(9))))
      val size = Json.byteSize(m)
      if (size + 12 < target) m += "note" -> str(r, (target - size - 12).toInt)
      events(i) = m
      i += 1
    }
    ProducerInput(events, sent, valid)
  }
}

/** `ingest`: the façade alone, no Spark. Producer threads share one queue
  * built by `EventQueue.withOriginAndMaxSize` at the reference's 1024 B
  * threshold, and call `enqueue` (or `send`) back to back: a closed loop.
  * A round replays the run's generated streams once and ends with the final
  * `flush`; a run times a fixed number of rounds (see [[Harness.opCount]]). */
object Ingest {
  val Threshold = 1024L
  val Origin = "perfbench"
  val Producers = 4
  val PerProducer = 10000
  /** A round's wall on the reference host (4 cores). */
  val NominalRoundS = 1.05


  /** Per-call records of one producer stream in one round. The timing
    * fields of a traced round are null in an untraced one. */
  final class Calls(n: Int, val traced: Boolean) {
    val lat = new Array[Long](n)
    val outcome = new Array[Byte](n) // 0 ok, 1 expected rejection, 2 error
    val flushed = if (traced) new Array[Boolean](n) else null
    val enrich = if (traced) new Array[Long](n) else null
    val size = if (traced) new Array[Long](n) else null
    val enriched = if (traced) new Array[Map[String, Any]](n) else null
    val starts = if (traced) new Array[Long](n) else null
    def accepted: Long = outcome.count(_ == 0).toLong
  }

  def newCalls(inputs: IndexedSeq[ProducerInput], traced: Boolean): IndexedSeq[Calls] =
    inputs.map(in => new Calls(in.events.length, traced))

  /** One round: its payloads, and the sink times of a traced round. */
  final case class Round(startNanos: Long, wallNanos: Long, calls: IndexedSeq[Calls],
                         payloads: Seq[Array[Byte]], sink: SinkTimes, flushError: Boolean)

  /** What a timed round leaves for the report once its payloads have been
    * checked and dropped. */
  final case class Done(startNanos: Long, wallNanos: Long, calls: IndexedSeq[Calls], traced: Boolean,
                        payloads: Int, payloadBytes: Long, sink: SinkTimes, encodeNanos: Long,
                        encodeBytes: Long) {
    def eventsPerS: Double = calls.map(_.accepted).sum / (wallNanos / 1e9)
  }

  def round(inputs: IndexedSeq[ProducerInput], threads: Int, traced: Boolean): Round =
    round(inputs, threads, newCalls(inputs, traced))

  /** Replay `inputs` once through a fresh queue on `threads` threads,
    * recording each call into `calls`. */
  def round(inputs: IndexedSeq[ProducerInput], threads: Int, calls: IndexedSeq[Calls]): Round = {
    val traced = calls.head.traced
    val sink = new CountingSink
    val times = if (traced) new SinkTimes else null
    val q = EventQueue.withOriginAndMaxSize("perfbench", Origin, Threshold,
      if (traced) new TimedSink(sink, times) else sink).get
    val go = new CountDownLatch(1)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        go.await()
        var p = t
        while (p < inputs.length) { drive(q, inputs(p), calls(p)); p += threads }
      })
    }
    workers.foreach(_.start())
    val t0 = System.nanoTime()
    go.countDown()
    workers.foreach(_.join())
    val flushed = q.flush()
    val wall = System.nanoTime() - t0
    Round(t0, wall, calls, sink.payloads.asScala.toSeq, times, flushed.isFailure)
  }

  private def drive(q: EventQueue, in: ProducerInput, c: Calls): Unit = {
    val te = if (c.traced) new TimedEnqueue else null
    var i = 0
    val n = in.events.length
    while (i < n) {
      val ev = in.events(i)
      val r =
        if (te != null && !in.sent(i)) {
          c.starts(i) = System.nanoTime()
          val r = te(q, ev, Origin)
          c.lat(i) = te.enqueueNanos; c.enrich(i) = te.enrichNanos; c.size(i) = te.sizeNanos
          c.flushed(i) = te.flushed; c.enriched(i) = te.enriched
          r
        } else {
          if (te != null) c.starts(i) = System.nanoTime()
          val t0 = System.nanoTime()
          val r = if (in.sent(i)) q.send(ev) else q.enqueue(ev)
          c.lat(i) = System.nanoTime() - t0
          r
        }
      c.outcome(i) =
        if (r.isSuccess) 0
        else if (!in.valid(i) && r.failed.get.getMessage == "event field is required") 1
        else 2
      i += 1
    }
  }

  /** Json.encode time of the delivered batches, rebuilt from the enriched
    * events of a traced round: (nanos, payload bytes). */
  def encodeCost(rd: Round): (Long, Long) = {
    val mapper = new ObjectMapper()
    var nanos = 0L; var bytes = 0L
    rd.payloads.foreach { p =>
      val node = mapper.readTree(p)
      val batch = node.elements().asScala.map { it =>
        rd.calls(it.get("producer").intValue).enriched(it.get("seq").intValue)
      }.toSeq
      if (batch.forall(_ != null)) {
        val t0 = System.nanoTime()
        val s = Json.encode(batch)
        nanos += System.nanoTime() - t0
        bytes += s.getBytes("UTF-8").length
      }
    }
    (nanos, bytes)
  }

  def run(h: Harness): Unit = {
    // traced runs alternate traced and untraced rounds; the difference is
    // the tracing overhead
    val n = h.opCount(NominalRoundS)
    var inputs: IndexedSeq[ProducerInput] = null
    var records: IndexedSeq[IndexedSeq[Calls]] = null
    h.setupReps { () =>
      inputs = (0 until Producers).map(p => IngestGen.producer(h.seed, p, PerProducer))
      // the call records of every timed round are the benchmark's data too
      records = (0 until n).map(k => newCalls(inputs, h.trace && k % 2 == 0))
      h.markHeapBaseline()
    }
    val invalid = inputs.map(_.valid.count(!_).toLong).sum
    val events = inputs.map(_.events.length.toLong).sum
    // three rounds: the enqueue path is still compiling through the second
    h.warmup { () => (1 to 3).foreach(_ => round(inputs, Producers, traced = false)) }

    val rounds = mutable.ArrayBuffer.empty[Done]
    h.timed(n)(() => {
      val rd = round(inputs, Producers, records(rounds.size))
      h.collectHeap() // while the round's payloads are still held
      val res = h.checking(Checks.ingest(inputs, rd.payloads, Threshold, Origin))
      val errors = rd.calls.map(_.outcome.count(_ == 2).toLong).sum
      val rejected = rd.calls.map(_.outcome.count(_ == 1).toLong).sum
      var failed = res.failed + errors + (if (rd.flushError) 1 else 0)
      if (rejected != invalid) {
        failed += math.abs(rejected - invalid)
        h.note(s"rejected $rejected events, generated $invalid invalid")
      }
      res.reasons.foreach(h.note)
      h.attempt(events, failed)
      val traced = rd.calls.head.traced
      val (encNanos, encBytes) = if (traced) encodeCost(rd) else (0L, 0L)
      if (traced) rd.calls.foreach(_.enriched.mapInPlace(_ => null))
      rounds += Done(rd.startNanos, rd.wallNanos, rd.calls, traced, rd.payloads.size,
        rd.payloads.map(_.length.toLong).sum, rd.sink, encNanos, encBytes)
      rd.wallNanos
    })

    // the median round: a burst of host noise spoils one round, not the run
    def eps(rs: Seq[Done]): Double = Stats.median(rs.map(_.eventsPerS))
    val plain = rounds.filter(!_.traced).toSeq
    val enq = plain.flatMap(rd => rd.calls.zip(inputs).flatMap { case (c, in) =>
      in.events.indices.filter(i => !in.sent(i) && c.outcome(i) == 0).map(i => c.lat(i) / 1e6) }).toArray
    h.println(Stats.summary(enq, 0.99).line("enqueue_ms (untraced rounds)", "ms"))
    // the tail metric is p90: a third of enqueues flush, so p90 already lands
    // on flush-triggering enqueues, and p99 swings with host CPU steal
    val lat = Stats.summary(enq, 0.9)
    h.println(lat.line("enqueue_ms (untraced rounds)", "ms"))
    h.println(f"events_per_s=${eps(plain)}%.1f median of ${plain.size} rounds of $events events, $Producers producers" +
      plain.map(rd => f"${rd.eventsPerS}%.0f").mkString(" (per round: ", " ", ")"))
    h.endToEnd(eps(plain), lat.p50, h.tail(lat, "enqueue_ms"))

    if (h.trace) traceMetrics(h, inputs, rounds.filter(_.traced).toSeq, plain, eps)
  }

  private def traceMetrics(h: Harness, inputs: IndexedSeq[ProducerInput], traced: Seq[Done],
                           plain: Seq[Done], eps: Seq[Done] => Double): Unit = {
    val m = h.metrics
    def us(xs: Seq[Long]): Double = Stats.median(xs.map(_ / 1e3))
    val enq = for (rd <- traced; (c, in) <- rd.calls.zip(inputs); i <- in.events.indices
                   if !in.sent(i) && c.outcome(i) == 0) yield (c, i)
    val enrich = us(enq.map { case (c, i) => c.enrich(i) })
    val size = us(enq.map { case (c, i) => c.size(i) })
    val plainEnq = us(enq.filter { case (c, i) => !c.flushed(i) }.map { case (c, i) => c.lat(i) })
    val trigEnq = us(enq.filter { case (c, i) => c.flushed(i) }.map { case (c, i) => c.lat(i) })
    m.put("queue.enrich_us", enrich, "us")
    m.put("queue.size_us", size, "us")
    m.put("queue.plain_enqueue_us", plainEnq, "us")
    m.put("queue.trigger_enqueue_us", trigEnq, "us")
    m.put("queue.lock_self_us", plainEnq - enrich - size, "us")
    m.put("queue.encode_us_per_kb", traced.map(_.encodeNanos).sum / 1e3 / (traced.map(_.encodeBytes).sum / 1024.0), "us/KiB")
    m.put("queue.batches", Stats.median(traced.map(_.payloads.toDouble)), "count")
    m.put("queue.batch_fill", traced.map(_.payloadBytes).sum.toDouble / traced.map(_.payloads).sum / Threshold, "ratio")
    m.put("queue.rejected", Stats.median(traced.map(_.calls.map(_.outcome.count(_ == 1)).sum.toDouble)), "count")
    m.put("sink.put_us", traced.map(_.sink.nanos.sum).sum / 1e3 / traced.map(_.sink.records.sum).sum, "us")
    m.put("sink.records", Stats.median(traced.map(_.sink.records.sum.toDouble)), "count")
    m.put("sink.bytes", Stats.median(traced.map(_.sink.bytes.sum.toDouble)), "B")
    // the same streams from one producer thread, untraced
    val single = (1 to 2).map { _ =>
      val rd = round(inputs, 1, traced = false)
      Done(rd.startNanos, rd.wallNanos, rd.calls, false, 0, 0L, null, 0L, 0L)
    }
    val one = eps(single)
    m.put("queue.single_producer_events_per_s", one, "1/s")
    m.put("queue.producer_scaling", eps(plain) / one, "ratio")
    m.put("trace.overhead_frac", eps(plain) / eps(traced) - 1, "ratio")
    h.println(f"layers: enrich_us=$enrich%.3f + size_us=$size%.3f + lock_self_us=${plainEnq - enrich - size}%.3f" +
      f" = plain_enqueue_us=$plainEnq%.3f; trigger_enqueue_us=$trigEnq%.3f")
    h.println(f"producers: $Producers-thread ${eps(plain)}%.1f events/s vs 1-thread $one%.1f events/s" +
      f" (ratio ${eps(plain) / one}%.3f, base: the same ${inputs.map(_.events.length).sum} events)")
    // spans: each traced round, and the calls of the first 500 events of
    // each stream in the first traced round (bounded, to keep the log small)
    traced.zipWithIndex.foreach { case (rd, k) =>
      val key = s"round$k"
      val root = h.tr.add(-1, "ingest.round", key, h.tr.usOf(rd.startNanos),
        h.tr.usOf(rd.startNanos + rd.wallNanos))
      if (k == 0) for ((c, in) <- rd.calls.zip(inputs); i <- 0 until math.min(500, in.events.length)) {
        val s = h.tr.usOf(c.starts(i))
        val ev = h.tr.add(root, "ingest.call", key, s, s + (c.enrich(i) + c.size(i) + c.lat(i)) / 1000L)
        h.tr.add(ev, "queue.enrich", key, s, s + c.enrich(i) / 1000L)
        h.tr.add(ev, "queue.size", key, s + c.enrich(i) / 1000L, s + (c.enrich(i) + c.size(i)) / 1000L)
        h.tr.add(ev, if (c.flushed(i)) "queue.enqueue.flush" else "queue.enqueue", key,
          s + (c.enrich(i) + c.size(i)) / 1000L, s + (c.enrich(i) + c.size(i) + c.lat(i)) / 1000L)
      }
    }
  }
}
