package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import graft.{GraftExtensions, SparkEntry}
import org.apache.spark.sql.SparkSession

object Sessions {
  /** A session with `graft.Bench`'s configuration at `local[cores]`. */
  def bench(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.catalog.graftlake", "graft.sources.GraftLakeCatalog")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Three session starts for `setup_s`; the last one stays open. */
  def setUp(h: Harness, before: () => Unit = () => ()): SparkSession = {
    h.setupReps(() => { before(); h.markHeapBaseline(); h.session = Some(bench(h.cores)) },
      between = () => h.session.foreach(_.stop()))
    h.session.get
  }
}

/** `queries`: one client making sequential passes over a fixed mix of
  * short and iterative keys, each key-run being `graft.Bench`'s call
  * sequence -- build a fresh DataFrame with `SparkEntry.queries(k)`, then a
  * noop-sink write. Nothing is cached across key-runs. The first, cold
  * warm-up pass writes each key's result to parquet instead; the caller
  * compares those results with each key's DuckDB oracle. */
object Queries {
  /** Short keys: per-job costs and single-task scans dominate. One from
    * each group they stand for: event validation, the batching rule, the
    * codegen'd `go_ts` expression, and an exact-sum aggregate. */
  val Light: Seq[String] = Seq(
    "q_event_validate", "q_batch_assignment", "q_expr_go_ts", "q_agg_groupby")
  /** Iterative keys: checkpoint cuts, many jobs, shuffles and GC dominate;
    * q_kmeans is also an exact-sum site. */
  val Iterative: Seq[String] = Seq("q_sssp", "q_kmeans")
  /** Passes per run: the mix takes about 5.5 s per pass on the reference
    * host. The first timed pass still runs 10-30 % above the steady state
    * after two warm-up passes; the median of three discards it. */
  val NominalPassS = 5.5
  val MinPasses = 3

  final case class KeyRun(pass: Int, key: String, startNanos: Long, buildNanos: Long,
                          writeNanos: Long, ok: Boolean, traced: Boolean) {
    def wallNanos: Long = buildNanos + writeNanos
  }

  def run(h: Harness): Unit = {
    val keys = h.opt("keys").map(_.split(",").toSeq)
      .getOrElse(Light ++ Iterative)
    val data = h.opt("data").get
    val spark = Sessions.setUp(h)
    val out = Paths.get(h.work, "results")
    val warmFailed = mutable.Set.empty[String]
    h.warmup { () =>
      keys.foreach { k =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(k)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(k).toString)
        catch { case e: Exception => warmFailed += k; h.note(s"$k failed in warm-up: $e") }
        h.println(f"warm-up $k ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      }
      // a second warm-up pass with the timed call sequence itself: the
      // first noop pass after a cold start still runs well above the
      // steady state
      keys.foreach(k => try SparkEntry.queries(k)(spark, data).write.format("noop")
        .mode("overwrite").save() catch { case _: Exception => () })
    }
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Out.obj(keys.flatMap(k =>
      SparkEntry.oracleSql.get(k).map(sql => k -> Out.str(sql)))))

    val probe = new SparkProbe(spark)
    val runs = mutable.ArrayBuffer.empty[KeyRun]
    var pass = 0
    h.timed(h.opCount(NominalPassS, MinPasses))(() => {
      // traced runs alternate traced and untraced passes; the difference is
      // the tracing overhead
      val traced = h.trace && pass % 2 == 0
      // listener events arrive late: let the traced pass's drain first
      if (traced) probe.register() else { probe.settle(); probe.unregister() }
      val t0 = System.nanoTime()
      keys.foreach { k =>
        val tag = s"$pass/$k"
        probe.tag(s"$tag/build")
        val a = System.nanoTime()
        var ok = true
        var b = a
        try {
          val df = SparkEntry.queries(k)(spark, data)
          b = System.nanoTime()
          probe.tag(s"$tag/write")
          df.write.format("noop").mode("overwrite").save()
        } catch { case e: Exception => ok = false; h.note(s"$k failed: $e") }
        val c = System.nanoTime()
        if (b == a) b = c
        runs += KeyRun(pass, k, a, b - a, c - b, ok, traced)
      }
      probe.tag(null)
      pass += 1
      System.nanoTime() - t0
    })
    probe.unregister()
    h.attempt(runs.size, runs.count(r => !r.ok || warmFailed(r.key)))
    h.println("keyruns " + Out.obj(keys.map(k => k -> runs.count(_.key == k).toString)))

    val plain = runs.filter(!_.traced).toSeq
    val lat = plain.map(_.wallNanos / 1e6).toArray
    val s90 = Stats.summary(lat, 0.9)
    h.println(s90.line("key_run_ms (untraced passes)", "ms"))
    val perKey = keys.map(k => k -> Stats.median(plain.filter(_.key == k).map(_.wallNanos / 1e6)))
    perKey.foreach { case (k, v) => h.println(f"key $k median_ms=$v%.1f") }
    val passes = plain.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.wallNanos).sum / 1e9)
    h.println(passes.map(p => f"$p%.2f").mkString("passes_s: ", " ", ""))
    Seq("light" -> Light, "iterative" -> Iterative).foreach { case (g, ks) =>
      val mine = perKey.filter(kv => ks.contains(kv._1)).map(_._2)
      if (mine.nonEmpty) h.println(f"group $g: ${mine.size} keys, sum of key medians ${mine.sum / 1e3}%.3f s")
    }
    h.println(Stats.summary(passes.toArray, 0.9).line("pass_s", "s"))
    // the mix is heterogeneous, so its central latency is the geometric mean
    // of per-key medians (the pooled median jumps between keys) and its
    // tail the slowest key's median (pooled percentiles above p50 lack
    // support at this sample count); throughput is keys per median pass
    val geo = math.exp(perKey.map(kv => math.log(kv._2)).sum / perKey.size)
    h.println(f"key_median_geomean_ms=$geo%.3f slowest_key_median_ms=${perKey.map(_._2).max}%.3f")
    h.endToEnd(keys.size / Stats.median(passes), geo, perKey.map(_._2).max)

    if (h.trace) {
      probe.settle()
      traceMetrics(h, keys, runs.toSeq, probe)
    }
  }

  private def cutJobs(probe: SparkProbe, key: String): Int =
    probe.cutJobs(s"$key/build") + probe.cutJobs(s"$key/write")

  private def traceMetrics(h: Harness, keys: Seq[String], runs: Seq[KeyRun], probe: SparkProbe): Unit = {
    val traced = runs.filter(_.traced)
    val plain = runs.filter(!_.traced)
    val tr = h.tr
    val m = h.metrics
    val perPass = traced.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, rs) =>
      val build = new JobAgg; val write = new JobAgg
      rs.foreach { r => build.add(probe.agg(s"$p/${r.key}/build")); write.add(probe.agg(s"$p/${r.key}/write")) }
      val all = new JobAgg; all.add(build); all.add(write)
      val wall = rs.map(_.wallNanos).sum / 1e9
      val cuts = rs.map(r => cutJobs(probe, s"$p/${r.key}")).sum
      (p, rs, build, all, wall, cuts)
    }
    def med(f: ((Int, Seq[KeyRun], JobAgg, JobAgg, Double, Int)) => Double): Double = Stats.median(perPass.map(f))
    val planMs = mutable.ArrayBuffer.empty[Double]
    // spans: key-run -> build (-> its jobs) and write (-> planning phases
    // and jobs). The named layers of a key-run are the build (DataFrame
    // construction and the jobs it runs) and the write; within the write,
    // the planning phases, the jobs and the write's self time (adaptive
    // re-planning between stages, job submission, commit) are sub-layers.
    // What the build and write leave of the key-run is unattributed.
    final case class Cover(key: String, writeSelfUs: Long, unattributed: Double)
    val covers = traced.map { r =>
      val s = tr.usOf(r.startNanos)
      val ws = s + r.buildNanos / 1000; val we = s + r.wallNanos / 1000
      val key = s"${r.pass}/${r.key}"
      val root = tr.add(-1, "query.key_run", key, s, we)
      val build = tr.add(root, "spark.build", key, s, ws)
      val write = tr.add(root, "spark.write", key, ws, we)
      val writeKids = mutable.ArrayBuffer.empty[Span]
      probe.jobSpans.filter(_._1.startsWith(key + "/")).foreach { case (t, _, a, b, exec) =>
        val parent = if (t.endsWith("/build")) build else write
        val id = tr.add(parent, if (probe.isCut(exec)) "spark.job.cut" else "spark.job", key, a * 1000, b * 1000)
        if (parent == write) writeKids += Span(id, write, "", key, a * 1000, b * 1000)
      }
      val ph = probe.phases.filter { case (f, _, a, _) => SparkProbe.isWrite(f) && a * 1000 >= ws - 1000 && a * 1000 <= we }
      ph.foreach { case (_, n, a, b) =>
        val id = tr.add(write, s"spark.plan.$n", key, a * 1000, b * 1000)
        writeKids += Span(id, write, "", key, a * 1000, b * 1000)
      }
      planMs += ph.map { case (_, _, a, b) => (b - a).toDouble }.sum
      val layers = Seq(Span(build, root, "", key, s, ws), Span(write, root, "", key, ws, we))
      Cover(r.key, tr.selfUs(Span(write, root, "", key, ws, we), writeKids.toSeq),
        tr.selfUs(Span(root, -1, "", key, s, we), layers).toDouble / math.max(1L, we - s))
    }
    val cores = h.cores
    m.put("spark.build_s", med(p => p._2.map(_.buildNanos).sum / 1e9), "s")
    m.put("spark.write_s", med(p => p._2.map(_.writeNanos).sum / 1e9), "s")
    m.put("spark.plan_ms", planMs.sum / perPass.size, "ms")
    m.put("spark.write_self_ms", covers.map(_.writeSelfUs).sum / 1e3 / perPass.size, "ms")
    m.put("spark.jobs", med(_._4.jobs), "count")
    m.put("spark.build_jobs", med(_._3.jobs), "count")
    m.put("spark.stages", med(_._4.stages), "count")
    m.put("spark.tasks", med(_._4.tasks), "count")
    m.put("spark.cut_jobs", med(_._6), "count")
    m.put("spark.task_busy_s", med(_._4.runMs / 1e3), "s")
    m.put("spark.busy_frac", med(p => p._4.runMs / 1e3 / (p._5 * cores)), "ratio")
    m.put("spark.task_overhead_ms", med(_._4.overheadMs), "ms")
    m.put("spark.shuffle_write_bytes", med(_._4.shuffleWrite), "B")
    m.put("spark.shuffle_read_bytes", med(_._4.shuffleRead), "B")
    m.put("spark.spill_bytes", med(_._4.spill), "B")
    m.put("spark.gc_ms", med(_._4.taskGcMs), "ms")
    val scan = med(_._4.recordsRead)
    val rowsOut = probe.rowsOut.map(_._2).sum.toDouble / perPass.size
    m.put("spark.scan_rows", scan, "count")
    m.put("spark.rows_out", rowsOut, "count")
    m.put("spark.scan_per_row_out", scan / math.max(1.0, rowsOut), "ratio")
    // the first timed pass still carries warm-up drift: leave it out
    def passWall(rs: Seq[KeyRun]) = rs.filter(_.pass > 0).groupBy(_.pass).values.map(_.map(_.wallNanos).sum.toDouble)
    m.put("trace.overhead_frac", Stats.median(passWall(traced)) / Stats.median(passWall(plain)) - 1, "ratio")
    m.put("trace.unattributed_frac", Stats.median(covers.map(_.unattributed)), "ratio")
    h.println(f"scan rows per row out: ${scan / math.max(1.0, rowsOut)}%.2f (base: $rowsOut%.0f rows written per pass)")
    // per key: where the wall went, and what the named layers leave over
    keys.foreach { k =>
      val rs = traced.filter(_.key == k)
      val agg = new JobAgg
      rs.foreach(r => { agg.add(probe.agg(s"${r.pass}/$k/build")); agg.add(probe.agg(s"${r.pass}/$k/write")) })
      val n = math.max(1, rs.size)
      val wall = rs.map(_.wallNanos).sum / 1e6 / n
      val build = rs.map(_.buildNanos).sum / 1e6 / n
      val buildJobs = rs.map(r => probe.agg(s"${r.pass}/$k/build").jobs).sum.toDouble / n
      val mine = covers.filter(_.key == k)
      val un = mine.map(_.unattributed).maxOption.getOrElse(0.0)
      val writeSelf = mine.map(_.writeSelfUs).sum / 1e3 / n
      h.println(f"layer $k wall_ms=$wall%.1f build_ms=$build%.1f write_ms=${wall - build}%.1f " +
        f"jobs=${agg.jobs.toDouble / n}%.1f build_jobs=$buildJobs%.1f cut_jobs=${rs.map(r => cutJobs(probe, s"${r.pass}/$k")).sum.toDouble / n}%.1f " +
        f"tasks=${agg.tasks.toDouble / n}%.1f busy=${agg.runMs.toDouble / n / (wall * h.cores)}%.3f " +
        f"write_self_ms=$writeSelf%.1f named_cover=${1 - un}%.3f" + (if (un > 0.1) f" unattributed_frac=$un%.3f" else ""))
    }
  }
}
