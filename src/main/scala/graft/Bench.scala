package graft
import java.nio.file.{Files, Paths}

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Methodology (per round-1 verdict):
  *  - action = noop sink write, NOT `.count()`: count() lets parquet answer
  *    scan/filter keys from row-group metadata and Catalyst prune every
  *    column, measuring nothing. The noop v2 sink fully materializes every
  *    row while writing zero bytes.
  *  - one untimed warm-up pass per query (JVM/codegen/parquet-footer costs
  *    otherwise dominate the first timed query by ~8s).
  *  - a crashing query is reported as `"failed":[names]` and its time is
  *    excluded from `value` (never a fast fake success).
  *  - the JSON line goes to stdout AND target/bench.json (sbt's [info]
  *    prefix on stdout broke the driver's parse in round 1).
  *  - THREE timed passes per key, reported value = per-key MEDIAN (round-3
  *    verdict item 1): this host shows sporadic CPU steal that inflates a
  *    different random key 10-30x per run (BASELINE.md), so a single timed
  *    pass gates acceptance on luck. Passes are pass-major (all keys, then
  *    all keys again) so a steal burst lands on at most one of a key's three
  *    samples; the median discards it. Total = sum of per-key medians.
  *  - /proc/stat steal+total CPU ticks are sampled around each timed pass
  *    and emitted as `steal_ticks`/`cpu_ticks` arrays (round-6 verdict item
  *    6): a steal storm that outlasts all passes (the BENCH_r04/r06
  *    signature) is then machine-detectable from the artifact itself —
  *    steal_ticks[i]/cpu_ticks[i] is the fraction of host CPU stolen during
  *    pass i — instead of needing a manual clean re-run to adjudicate.
  *    -1 entries mean /proc/stat was unreadable (non-Linux host).
  *  - per-key `gc_ms_max` = the worst single-pass JVM GC time attributed
  *    to that key (max over the three passes). ADJUDICATION RULE
  *    (BASELINE.md "How to adjudicate a bench artifact"): a key whose
  *    pass carried gc_ms_max > 200 ms is discounted the same way a
  *    steal-marked pass is — its regression claim needs a focused
  *    re-bench, because a major collection landing mid-key charges
  *    another key's garbage to this key's wall clock. The 3-pass median
  *    already absorbs ONE gc-hit pass; the marker exists for the case
  *    where collections recur across passes (heap pressure, not luck).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Either[String, Unit] =
      try Right(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      catch { case e: Throwable => Left(s"$name: ${e.getClass.getSimpleName}") }

    // Optional positional args restrict the run to the named keys — for
    // re-measuring a suspect key without paying the full suite (unknown
    // names fail fast rather than silently shrinking the run).
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown bench keys: ${unknown.mkString(", ")}")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach(run) // warm-up: JIT + codegen cache + parquet footers
    // Pay the warm-up's accumulated garbage BEFORE the clock starts: the
    // first big materializer of the timed pass otherwise absorbs a major
    // GC of the full key set's worth of warm-up allocation (observed as a random
    // early key reading 5-10x slower run-to-run).
    System.gc()
    Thread.sleep(2000)

    // Malformed/zero/negative override must not crash the gate artifact:
    // fall back to 3 passes and clamp to >= 1 (ADVICE r4).
    val passes = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").trim.toInt)
        .getOrElse(3))
    // (steal, total) jiffies from /proc/stat's aggregate cpu line; (-1,-1)
    // when unreadable. Steal is field 8 (0-based 7 after the "cpu" tag).
    def cpuTicks(): (Long, Long) =
      try {
        val f = Files.readString(Paths.get("/proc/stat")).linesIterator
          .next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } catch { case _: Throwable => (-1L, -1L) }
    // Driver-JVM GC time attributable to each timed run: the r6/r7 bench
    // transients (one key reading 5-7x slow with ~zero host steal) are
    // stop-the-world collections landing inside a pass — recording the
    // per-key GC delta makes a GC-poisoned pass machine-detectable the
    // same way steal_ticks makes a noisy-host pass detectable.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    // Non-steal contention markers (r16, VERDICT r15 item 7): the r15
    // driver artifact sat 18% above the verified-quiet same-HEAD run with
    // near-zero steal ticks — a contention class (co-tenant memory
    // bandwidth) steal can't see. Two extra per-pass signals make it
    // adjudicable from the artifact alone:
    //  - wall_cpu_ratio = pass wall-seconds x nCpus / JVM process-CPU-
    //    seconds. On a quiet host the suite keeps the executor pool busy
    //    at a characteristic ratio; bandwidth contention stretches wall
    //    while process-CPU stays flat, so the ratio rises ACROSS THE
    //    WHOLE PASS (unlike steal, which needs the hypervisor to report).
    //    Compare passes to each other and to the BASELINE.md anchor row —
    //    an artifact whose ratios sit uniformly above the anchor's is
    //    contended even at steal~0.
    //  - loadavg1 = /proc/loadavg 1-min at pass end: >> nCpus means
    //    co-tenant runnable pressure. -1 = unreadable.
    def procCpuNanos(): Long =
      try java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        .getProcessCpuTime
      catch { case _: Throwable => -1L }
    def loadAvg1(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).trim
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val stealPerPass = Array.ofDim[Long](passes)
    val ticksPerPass = Array.ofDim[Long](passes)
    val wallCpuRatio = Array.ofDim[Double](passes)
    val loadPerPass = Array.ofDim[Double](passes)
    val samples = (1 to passes).flatMap { pi =>
      val (steal0, ticks0) = cpuTicks()
      val pc0 = procCpuNanos()
      val w0 = System.nanoTime()
      val res = names.map { name =>
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        val r = run(name)
        (name, (System.nanoTime() - t0) / 1e9, r.isRight, gcMillis() - g0)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val pc1 = procCpuNanos()
      val (steal1, ticks1) = cpuTicks()
      val ok = steal0 >= 0 && steal1 >= 0
      stealPerPass(pi - 1) = if (ok) steal1 - steal0 else -1L
      ticksPerPass(pi - 1) = if (ok) ticks1 - ticks0 else -1L
      wallCpuRatio(pi - 1) =
        if (pc0 >= 0 && pc1 > pc0)
          math.round(wall * cpus.toDouble / ((pc1 - pc0) / 1e9) * 1000) / 1000.0
        else -1.0
      loadPerPass(pi - 1) = loadAvg1()
      res
    }
    // A key is `failed` if ANY pass crashed (a flaky crash is a crash, not a
    // slow success); otherwise its reported time is the median of its passes.
    val timed = names.map { name =>
      val mine = samples.filter(_._1 == name)
      val ok = mine.forall(_._3)
      val ts = mine.map(_._2).sorted
      val median = ts(ts.length / 2)
      (name, median, ok)
    }
    // max single-pass GC hit per key, ms — a large value next to a slow
    // median tells the reader the key ate a collection, not a regression
    val gcMax = names.map { name =>
      name -> samples.filter(_._1 == name).map(_._4).max
    }
    // queries map holds ONLY numeric values (a "failed" string broke the
    // driver's round-2 parse → parsed:null); failures are named in `failed`.
    val qs = timed.collect { case (k, v, true) =>
      "\"" + k + "\":" + v.toString
    }.mkString("{", ",", "}")
    val failed = timed.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = timed.collect { case (_, v, true) => v }.sum
    val steal = stealPerPass.mkString("[", ",", "]")
    val ticks = ticksPerPass.mkString("[", ",", "]")
    val ratios = wallCpuRatio.mkString("[", ",", "]")
    val loads = loadPerPass.mkString("[", ",", "]")
    val gcs = gcMax.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the run describes itself: cpus is the local[N] it ran at, and the
    // shuffle fan-out is read back from the session, not echoed from env
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"steal_ticks":$steal,"cpu_ticks":$ticks,"wall_cpu_ratio":$ratios,"loadavg1":$loads,"gc_ms_max":$gcs,"cpus":$cpus,"shuffle_partitions":$shufflePartitions,"sf":"$sfDir"}"""
    println(json)
    // STDOUT CONTRACT (ADVICE r8): the LAST stdout line is the canonical
    // parse target. The full record above outgrew the driver's stdout
    // tail capture once gc_ms_max landed (BENCH_r07.json came back
    // parsed:null — the tail kept only the end of the line, cutting off
    // "value"), so the SHORT summary goes last and is always complete;
    // the full per-key record is still printed first (the driver's tail
    // capture is the judge's per-key adjudication source) and is also
    // written to target/bench.json for plan-audit reads. build.sbt forks
    // run with outputStrategy = StdoutOutput so both lines arrive bare —
    // no sbt "[info] " prefix (r8 verdict item 4).
    val shortJson =
      s"""{"metric":"total","value":$total,"unit":"sec","n_keys":${names.length},"failed":$failed,"sf":"$sfDir"}"""
    println(shortJson)
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"), json + "\n")
    spark.stop()
  }
}
