package perfbench

import java.nio.file.Paths
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: its arguments, clocks, counters and the result line.
  *
  *   java perfbench.Harness --workload W --seed N --seconds S --trace 0|1
  *     --work DIR [--data DIR] [--gen-s a,b,c] [--keys k1,k2]
  *
  * Prints the report, then `PERFBENCH_RESULT {json}` as its last line.
  * Exits non-zero when the run could not be measured at all. */
final class Harness(args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args.getOrElse("trace", "0") == "1"
  val work: String = args("work")
  /** Spark runs at `local[nproc]`, as `graft.Bench` does. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
  def opt(k: String): Option[String] = args.get(k)

  val metrics = new Metrics
  val tr = new Trace
  val heap = new HeapWatch
  private var attempted = 0L
  private var failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]
  private val setupS = mutable.ArrayBuffer.empty[Double]
  private var warmupS = 0.0
  private var checkS = 0.0
  private var timedS = 0.0
  private var gcMs = 0L
  private var steal = -1.0
  private var load1 = -1.0
  var session: Option[SparkSession] = None

  def println(s: String): Unit = Console.out.println(s"[perfbench] $s")
  def note(s: String): Unit = if (notes.size < 20) { notes += s; println(s"check: $s") }
  def attempt(n: Long, bad: Long): Unit = { attempted += n; failed += bad }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private var baselineS = 0.0

  /** Set up three times and keep the last; `setup_s` reports the median
    * (plus the warm-up). Input generation done before the JVM started is
    * passed in as `--gen-s` and added to the matching repetition. */
  def setupReps(rep: () => Unit, between: () => Unit = () => ()): Unit = {
    val gen = args.get("gen-s").map(_.split(",").map(_.toDouble).toSeq).getOrElse(Seq(0.0, 0.0, 0.0))
    gen.zipWithIndex.foreach { case (g, i) =>
      if (i > 0) between()
      baselineS = 0.0
      val t0 = System.nanoTime(); rep(); setupS += g + secs(t0) - baselineS
    }
  }

  /** Call in a set-up once the benchmark's own inputs are in memory and
    * before the program starts: the live heap then is the baseline that
    * `heap_peak_mb` leaves out. The first set-up's counts (later ones
    * follow a stopped session, whose remains the collector may not have
    * freed yet). The collection is not set-up time. */
  def markHeapBaseline(): Unit = if (setupS.isEmpty) {
    val t0 = System.nanoTime()
    System.gc()
    heap.markBaseline()
    baselineS += secs(t0)
  }

  /** Output checking, timed for the report only. */
  def checking[T](body: => T): T = {
    val t0 = System.nanoTime(); try body finally checkS += secs(t0)
  }

  def warmup(body: () => Unit): Unit = {
    val t0 = System.nanoTime(); body(); warmupS = secs(t0)
  }

  /** The fixed number of timed ops of a run: as many as fill the run's
    * seconds at the workload's nominal op duration on the reference host,
    * and at least `minOps` (traced runs need two, one of them untraced).
    * The work per run is then the same on both sides of a comparison. */
  def opCount(nominalS: Double, minOps: Int = 1): Int =
    math.max(math.max(minOps, if (trace) 2 else 1), math.ceil(seconds / nominalS).toInt)

  /** Run `op` `n` times; `op` returns the nanos it measured (checks and
    * bookkeeping inside it stay outside that span). */
  def timed(n: Int)(op: () => Long): Unit = {
    // graft.Bench's sequence: collect the warm-up's garbage, then give
    // Spark's ContextCleaner time to release what the collection freed, so
    // that cleanup does not run inside the first timed op
    System.gc()
    if (session.nonEmpty) Thread.sleep(2000)
    val c0 = HostInfo.cpuTicks(); val g0 = HostInfo.gcMillis()
    var spent = 0L
    (1 to n).foreach { _ => heap.startOp(); spent += op(); heap.endOp() }
    gcMs = HostInfo.gcMillis() - g0
    steal = HostInfo.stealShare(c0, HostInfo.cpuTicks())
    load1 = HostInfo.loadAvg1()
    timedS = spent / 1e9
  }

  /** The tail percentile of `s` for the end-to-end metrics. An untraced
    * run whose tail lacks support has not measured it: it counts as failed.
    * (A traced run reports no end-to-end metrics.) */
  def tail(s: Stats.Summary, what: String): Double = {
    if (!trace && !s.supported) {
      note(s"$what: the tail percentile is unsupported (${s.beyond} samples beyond it)")
      failed += 1
    }
    s.pq
  }

  /** A full collection inside an op, outside its timed span, that gives
    * `heap_peak_mb` a sample of the op's live heap. */
  def collectHeap(): Unit = { System.gc(); heap.sample() }

  def endToEnd(throughput: Double, p50Ms: Double, tailMs: Double): Unit = {
    metrics.put("throughput_per_s", throughput, "1/s")
    metrics.put("latency_p50_ms", p50Ms, "ms")
    metrics.put("latency_tail_ms", tailMs, "ms")
  }

  def finish(): Unit = {
    // the median op's peak: a collection that lands at an op's high point
    // or misses it moves one op, not the run
    val peak = Stats.median(heap.opPeaksMb)
    metrics.put("heap_peak_mb", peak - heap.baselineMb, "MiB")
    metrics.put("setup_s", Stats.median(setupS) + warmupS, "s")
    val shuffle = session.map(_.conf.get("spark.sql.shuffle.partitions")).getOrElse("-")
    val master = session.map(_.sparkContext.master).getOrElse("none")
    println(f"host: nproc=${Runtime.getRuntime.availableProcessors()} master=$master " +
      f"shuffle_partitions=$shuffle max_heap_mb=${HostInfo.maxHeapMb}%.0f steal_share=$steal%.4f " +
      f"loadavg1=$load1%.2f driver_gc_ms=$gcMs timed_s=$timedS%.2f check_s=$checkS%.2f")
    println(f"heap: median op peak_mb=$peak%.1f baseline_mb=${heap.baselineMb}%.1f (heap_peak_mb is their difference)" +
      heap.opPeaksMb.map(p => f"$p%.1f").mkString(" (op peaks: ", " ", ")"))
    println(f"setup: reps_s=${setupS.map(s => f"$s%.3f").mkString(",")} warmup_s=$warmupS%.3f")
    println(f"ops: attempted=$attempted failed=$failed fail_frac=${failed.toDouble / math.max(1L, attempted)}%.6f")
    metrics.values.foreach { case (k, (v, u)) => println(f"metric $k = $v%.6g $u") }
    if (trace) tr.write(Paths.get(work, "trace.jsonl"))
    val names = if (trace) Catalog.perLayer.map(_._1) else Catalog.endToEnd.map(_._1)
    val units = (Catalog.perLayer ++ Catalog.endToEnd).toMap
    names.foreach(n => if (!metrics.values.contains(n)) metrics.put(n, 0.0, units(n)))
    Console.out.println("PERFBENCH_RESULT " + Out.obj(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metrics.json(names))))
  }
}

/** Metric names and units, in report order. A per-layer metric of a layer
  * the workload does not exercise reports 0. */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "heap_peak_mb" -> "MiB", "setup_s" -> "s")
  val perLayer: Seq[(String, String)] = Seq(
    "queue.enrich_us" -> "us", "queue.size_us" -> "us", "queue.encode_us_per_kb" -> "us/KiB",
    "queue.plain_enqueue_us" -> "us", "queue.trigger_enqueue_us" -> "us", "queue.lock_self_us" -> "us",
    "queue.single_producer_events_per_s" -> "1/s", "queue.producer_scaling" -> "ratio",
    "queue.batches" -> "count", "queue.batch_fill" -> "ratio", "queue.rejected" -> "count",
    "sink.put_us" -> "us", "sink.records" -> "count", "sink.bytes" -> "B",
    "spark.build_s" -> "s", "spark.write_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.write_self_ms" -> "ms",
    "spark.jobs" -> "count", "spark.build_jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.cut_jobs" -> "count", "spark.task_busy_s" -> "s",
    "spark.busy_frac" -> "ratio", "spark.task_overhead_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_ms" -> "ms", "spark.scan_rows" -> "count", "spark.rows_out" -> "count",
    "spark.scan_per_row_out" -> "ratio",
    "stream.trigger_ms" -> "ms", "stream.offset_ms" -> "ms", "stream.plan_ms" -> "ms",
    "stream.addbatch_ms" -> "ms", "stream.commit_ms" -> "ms", "stream.write_amp" -> "ratio",
    "trace.overhead_frac" -> "ratio", "trace.unattributed_frac" -> "ratio")
}

object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val h = new Harness(args)
    try {
      h.workload match {
        case "ingest" => Ingest.run(h)
        case "stream_deliver" => StreamDeliver.run(h)
        case "queries" => Queries.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      h.finish()
    } finally {
      h.heap.close()
      h.session.foreach(_.stop())
    }
  }
}
