package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tool: dump `.explain("formatted")` for declared
  * queries to a directory (plans/r19/<key>_{before,after}.txt in the
  * optimization deliverable). Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> [keys...]
  * With no keys, dumps every declared query. Planning only — nothing is
  * executed, so this is safe to run next to a bench.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [keys...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val keys =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // suffix ending in ".exec" additionally RUNS each query through the
    // noop sink first, so the dumped plan is the FINAL adaptive plan
    // (AQE join rewrites, coalesced reads, reused exchanges) — the only
    // view that supports join-strategy claims. Plain suffix = initial
    // plan, planning only.
    val exec = suffix.endsWith(".exec")
    keys.foreach { k =>
      val txt =
        try {
          val df = SparkEntry.queries(k)(spark, sfDir)
          if (exec) {
            df.collect() // finalize AQE on THIS QueryExecution
            df.queryExecution.executedPlan.toString
          } else
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"PLAN FAILED: $e" }
      Files.writeString(Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
    }
    println(s"[plandump] wrote ${keys.length} plans to $outDir")
    spark.stop()
  }
}
