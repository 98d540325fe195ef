package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.queue.{BatchIdLedger, EventQueue, Json, LocalSink, StreamingQueueSink}
import org.apache.spark.sql.Row
import perfbench.Checks.LandedFile

/** Seeded JSON-lines files for `stream_deliver`: about 2 k events each, of
  * which about 0.5 % are corrupt lines (truncated, or a float where the
  * event id's long belongs). `props` is a nested object, which the source
  * hands on as its raw JSON text. */
object StreamGen {
  val EventsPerFile = 2000
  private val Types = Array("purchase", "view", "click", "signup", "error")
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern(graft.sources.EventJsonSource.TsFormat)
  private val T0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  def file(seed: Long, idx: Int): (String, LandedFile) = {
    val r = new SplittableRandom(seed * 7919L + idx)
    val sb = new java.lang.StringBuilder(EventsPerFile * 200)
    val valid = mutable.HashMap.empty[Long, Map[String, Any]]
    val corrupt = mutable.Set.empty[Long]
    var j = 0
    while (j < EventsPerFile) {
      val id = idx.toLong * EventsPerFile + j
      val us = T0 + id * 1000000L + r.nextInt(1000000)
      val ts = java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
        .atOffset(java.time.ZoneOffset.UTC).format(TsFmt)
      val user = r.nextInt(5000).toLong
      val tpe = Types(r.nextInt(Types.length))
      val value = r.nextInt(50000) / 100.0
      val props = s"""{"k":${r.nextInt(100)},"tags":["t${r.nextInt(9)}","é\\"q"],"n":{"ok":${r.nextBoolean()}}}"""
      val line = s"""{"event_id":$id,"ts":"$ts","user_id":$user,"event_type":"$tpe","value":${Json.encode(value)},"props":$props}"""
      if (r.nextDouble() < 0.005) {
        corrupt += id
        if (r.nextBoolean()) sb.append(line, 0, line.length / 2)
        else sb.append(line.replaceFirst(s""""event_id":$id""", s""""event_id":$id.5"""))
      } else {
        sb.append(line)
        valid(id) = Map("event" -> tpe, "event_id" -> id, "ts_us" -> us, "user_id" -> user,
          "value" -> value, "props" -> props)
      }
      sb.append('\n')
      j += 1
    }
    (sb.toString, LandedFile(valid.toMap, corrupt.toSet))
  }

  /** The queue event of one source row; the inverse of [[file]]'s map. */
  def toEvent(row: Row): Map[String, Any] = {
    val ts = row.getTimestamp(1)
    Map("event" -> row.getString(3), "event_id" -> row.getLong(0),
      "ts_us" -> (Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000),
      "user_id" -> row.getLong(2), "value" -> row.getDouble(4), "props" -> row.getString(5))
  }
}

/** Executor-side timings of traced micro-batches. Local mode runs tasks in
  * this JVM, so the queue and sink wrappers report here directly. */
object StreamLayer {
  @volatile var tracing = false
  val enrich = new ConcurrentLinkedQueue[java.lang.Long]()
  val size = new ConcurrentLinkedQueue[java.lang.Long]()
  val plain = new ConcurrentLinkedQueue[java.lang.Long]()
  val trigger = new ConcurrentLinkedQueue[java.lang.Long]()
  val sink = new SinkTimes

  /** Times each enqueue of a traced batch through [[TimedEnqueue]]. A
    * partition's queue is used by its task's thread alone. */
  final class TimedQueue(inner: EventQueue, origin: String) extends EventQueue {
    private val t = new TimedEnqueue
    override def enqueue(event: Map[String, Any]): scala.util.Try[Unit] = {
      val r = t(inner, event, origin)
      enrich.add(t.enrichNanos); size.add(t.sizeNanos)
      (if (t.flushed) trigger else plain).add(t.enqueueNanos)
      r
    }
    override def flush(): scala.util.Try[Seq[Map[String, Any]]] = inner.flush()
    override def send(event: Map[String, Any]): scala.util.Try[Unit] = inner.send(event)
  }

  /** One façade per (batch, partition) over its own LocalSink shard. */
  def makeQueue(sinkDir: String, origin: String, threshold: Long)(batchId: Long, part: Int): EventQueue = {
    val local = new LocalSink(s"$sinkDir/b$batchId-p$part")
    if (!tracing) EventQueue.withOriginAndMaxSize("perfbench", origin, threshold, local).get
    else new TimedQueue(EventQueue.withOriginAndMaxSize("perfbench", origin, threshold,
      new TimedSink(local, sink)).get, origin)
  }
}

/** `stream_deliver`: the Spark-native delivery path. Files land atomically
  * in a directory read by `graft.sources.v2.EventsV2Provider`; each
  * micro-batch goes through `foreachBatch(StreamingQueueSink.partitionedWriter)`
  * with a `BatchIdLedger`, one `EventQueue` per partition at a 64 KiB
  * threshold, writing to `LocalSink` on local disk. A closed loop: land a
  * file, `processAllAvailable`, land the next. */
object StreamDeliver {
  val Threshold = 64 * 1024L
  val Origin = "perfbench"
  val WarmupFiles = 3
  /** Enough untraced batches for p75 to keep ten samples beyond it with
    * two batches lost. */
  val MinBatches = 48
  /** A batch's latency on the reference host (4 cores). */
  val NominalBatchS = 0.3

  final case class Batch(idx: Int, batchId: Long, nanos: Long, startNanos: Long,
                         traced: Boolean, ok: Boolean)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close() }

  def run(h: Harness): Unit = {
    val root = Paths.get(h.work).toAbsolutePath
    val in = root.resolve("in"); val stage = root.resolve("stage")
    val sinkDir = root.resolve("sink"); val ledgerDir = root.resolve("ledger"); val ckpt = root.resolve("checkpoint")
    Seq(in, stage).foreach(Files.createDirectories(_))
    val n = h.opCount(NominalBatchS, MinBatches)
    var files: IndexedSeq[(String, LandedFile)] = IndexedSeq.empty
    val spark = Sessions.setUp(h, before = () => files = (0 until WarmupFiles + n).map(StreamGen.file(h.seed, _)))
    def landed(idx: Int): LandedFile = files(idx)._2
    var next = 0
    val ledger = BatchIdLedger.forSession(ledgerDir.toString, spark)
    val probe = new SparkProbe(spark)
    if (h.trace) probe.register()
    val writer = StreamingQueueSink.partitionedWriter[Row](ledger,
      StreamLayer.makeQueue(sinkDir.toString, Origin, Threshold))(StreamGen.toEvent)
    val query = spark.readStream.format("graft.sources.v2.EventsV2Provider").load(in.toString)
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch(writer).start()
    val batches = mutable.ArrayBuffer.empty[Batch]
    def deliver(traced: Boolean): Batch = {
      val idx = next; next += 1
      Files.writeString(stage.resolve(f"f$idx%06d.json"), files(idx)._1)
      StreamLayer.tracing = traced
      val t0 = System.nanoTime()
      Files.move(stage.resolve(f"f$idx%06d.json"), in.resolve(f"f$idx%06d.json"), StandardCopyOption.ATOMIC_MOVE)
      val ok = try { query.processAllAvailable(); true }
        catch { case e: Exception => h.note(s"file $idx: $e"); false }
      val dt = System.nanoTime() - t0
      val id = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
      Batch(idx, id, dt, t0, traced, ok)
    }
    try {
      val warm = mutable.ArrayBuffer.empty[Batch]
      h.warmup { () => (0 until WarmupFiles).foreach(_ => warm += deliver(false)) }
      h.timed(n)(() => {
        // traced runs alternate traced and untraced batches
        val b = deliver(h.trace && batches.size % 2 == 0)
        batches += b
        // a run sees one or two young collections at this heap size: a full
        // one after each batch gives the heap peak a sample per batch
        h.collectHeap()
        b.nanos
      })
      StreamLayer.tracing = false
      val checked = (warm ++ batches).toSeq
      val res = h.checking(Checks.stream(checked.filter(_.ok).map(b => b.batchId -> landed(b.idx)),
        b => {
          val dirs = Option(sinkDir.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"b$b-p"))
          dirs.flatMap(d => new LocalSink(d.toString).records().map(_.getBytes("UTF-8")))
        },
        b => Files.exists(ledgerDir.resolve(s"$b.done")), Threshold))
      res.reasons.foreach(h.note)
      h.attempt(checked.size, checked.count(!_.ok) + res.failed)
      val plain = batches.filter(b => b.ok && !b.traced).toSeq
      // the median batch: a burst of host noise spoils a few batches, not the run
      val eps = Stats.median(plain.map(b => landed(b.idx).valid.size / (b.nanos / 1e9)))
      val lat = Stats.summary(plain.map(_.nanos / 1e6).toArray, 0.75)
      h.println(Stats.summary(plain.map(_.nanos / 1e6).toArray, 0.9).line("batch_ms (untraced batches)", "ms"))
      h.println(lat.line("batch_ms (untraced batches)", "ms"))
      h.println(f"events_per_s=$eps%.1f median of ${plain.size} batches")
      h.endToEnd(eps, lat.p50, h.tail(lat, "batch_ms"))
      if (h.trace) {
        probe.settle()
        traceMetrics(h, batches.toSeq, probe, landed, sinkDir, ledgerDir, ckpt)
      }
    } finally {
      query.stop()
      probe.unregister()
    }
  }

  private def traceMetrics(h: Harness, batches: Seq[Batch], probe: SparkProbe,
                           landed: Int => LandedFile,
                           sinkDir: Path, ledgerDir: Path, ckpt: Path): Unit = {
    val m = h.metrics
    val traced = batches.filter(b => b.ok && b.traced)
    val plain = batches.filter(b => b.ok && !b.traced)
    def us(q: ConcurrentLinkedQueue[java.lang.Long]): Double = Stats.median(q.asScala.map(_ / 1e3))
    val enrich = us(StreamLayer.enrich); val size = us(StreamLayer.size); val plainEnq = us(StreamLayer.plain)
    m.put("queue.enrich_us", enrich, "us")
    m.put("queue.size_us", size, "us")
    m.put("queue.plain_enqueue_us", plainEnq, "us")
    m.put("queue.trigger_enqueue_us", us(StreamLayer.trigger), "us")
    m.put("queue.lock_self_us", plainEnq - enrich - size, "us")
    val records = StreamLayer.sink.records.sum.toDouble
    m.put("queue.batches", records / traced.size, "count")
    m.put("queue.batch_fill", StreamLayer.sink.bytes.sum / records / Threshold, "ratio")
    m.put("sink.put_us", StreamLayer.sink.nanos.sum / 1e3 / records, "us")
    m.put("sink.records", records / traced.size, "count")
    m.put("sink.bytes", StreamLayer.sink.bytes.sum.toDouble / traced.size, "B")
    // Json.encode of payload-sized batches rebuilt from the traced batches'
    // events in delivery order; the median over batches
    val perBatch = records / traced.size
    val enc = traced.flatMap { b =>
      val evs = landed(b.idx).valid.toSeq.sortBy(_._1).map(_._2).map(e =>
        EventQueue.enrichAndValidate(e, Origin, System.currentTimeMillis() * 1000L).get)
      evs.grouped(math.max(1, (evs.size / perBatch).ceil.toInt)).map { g =>
        val t0 = System.nanoTime(); val s = Json.encode(g); val dt = System.nanoTime() - t0
        dt / 1e3 / (s.getBytes("UTF-8").length / 1024.0)
      }
    }
    m.put("queue.encode_us_per_kb", Stats.median(enc), "us/KiB")
    val prog = probe.progress.map(p => p._1 -> p).toMap
    val tp = traced.flatMap(b => prog.get(b.batchId).map(b -> _._3))
    def dm(f: Map[String, Long] => Long): Double = Stats.median(tp.map { case (_, d) => f(d).toDouble })
    def g(d: Map[String, Long], k: String): Long = d.getOrElse(k, 0L)
    m.put("stream.trigger_ms", dm(g(_, "triggerExecution")), "ms")
    m.put("stream.offset_ms", dm(d => g(d, "latestOffset") + g(d, "getBatch")), "ms")
    m.put("stream.plan_ms", dm(g(_, "queryPlanning")), "ms")
    m.put("stream.addbatch_ms", dm(g(_, "addBatch")), "ms")
    m.put("stream.commit_ms", dm(d => g(d, "walCommit") + g(d, "commitOffsets")), "ms")
    val payload = dirBytes(sinkDir).toDouble
    m.put("stream.write_amp", (payload + dirBytes(ledgerDir) + dirBytes(ckpt)) / payload, "ratio")
    val aggs = traced.map(b => b -> probe.agg(s"batch/${b.batchId}"))
    def am(f: ((Batch, JobAgg)) => Double): Double = Stats.median(aggs.map(f))
    m.put("spark.jobs", am(_._2.jobs), "count")
    m.put("spark.stages", am(_._2.stages), "count")
    m.put("spark.tasks", am(_._2.tasks), "count")
    m.put("spark.task_busy_s", am(_._2.runMs / 1e3), "s")
    m.put("spark.busy_frac", am { case (b, a) => a.runMs / 1e3 / (b.nanos / 1e9 * h.cores) }, "ratio")
    m.put("spark.task_overhead_ms", am(_._2.overheadMs), "ms")
    m.put("spark.gc_ms", am(_._2.taskGcMs), "ms")
    m.put("spark.scan_rows", am(_._2.recordsRead), "count")
    m.put("spark.rows_out", Stats.median(traced.flatMap(b => prog.get(b.batchId).map(_._2.toDouble))), "count")
    m.put("trace.overhead_frac", Stats.median(traced.map(_.nanos.toDouble)) / Stats.median(plain.map(_.nanos.toDouble)) - 1, "ratio")
    // named layers of a batch: the trigger's reported phases; the rest of
    // land -> return is unattributed
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val un = tp.map { case (b, d) =>
      val key = s"batch/${b.batchId}"
      val s = h.tr.usOf(b.startNanos)
      val root = h.tr.add(-1, "stream.batch", key, s, s + b.nanos / 1000)
      var at = s
      phases.foreach { p => val du = g(d, p) * 1000; h.tr.add(root, s"stream.$p", key, at, at + du); at += du }
      probe.jobSpans.filter(_._1 == key).foreach { case (_, _, a, e, _) => h.tr.add(root, "spark.job", key, a * 1000, e * 1000) }
      1 - phases.map(g(d, _)).sum * 1e6 / b.nanos
    }
    m.put("trace.unattributed_frac", Stats.median(un), "ratio")
    h.println(f"stream: trigger_ms=${m.values("stream.trigger_ms")._1}%.1f of batch_ms=" +
      f"${Stats.median(traced.map(_.nanos / 1e6))}%.1f; unattributed (land -> trigger start, return) " +
      f"${Stats.median(un) * 100}%.1f%%")
  }
}
