package graft

import graft.ops.Skew
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE 50%-hot-key distribution, shared by [[SkewScaleProbe]] (which
  * measures its wall-time cost) and SkewAndBucketSpec (which pins the
  * salted forms' exactness on it) — one definition so the measured and
  * the correctness-pinned distributions are provably the same shape. */
object HotKeyData {
  /** `n` fact rows: key 0 carries 50%, the rest spread over 997 keys. */
  def facts(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select((when(col("id") % 2 === 0, 0L).otherwise(col("id") % 997L))
        .as("key"), col("id").as("v"))

  /** The 997-row dimension side. */
  def dim(spark: SparkSession): DataFrame =
    spark.range(997L).select(col("id").as("key"),
      concat(lit("p"), col("id")).as("payload"))
}

/** Measures the wall-time payoff of the skew knobs on a generated
  * 50%-hot-key dataset — the numbers recorded in SCALE.md "skew,
  * measured". Run with:
  *
  *   sbt "Test/runMain graft.SkewScaleProbe"
  *
  * Shape: 32M fact rows, one key carrying 50% of them, 997 uniform
  * residual keys, joined to a 997-row dim that is forced OFF the
  * broadcast path (autoBroadcastJoinThreshold=-1) so the join actually
  * shuffles — the regime where a hot key funnels half the table through
  * one reducer. AQE skew-split thresholds are lowered to fire at this
  * fixture size (at production sizes the 256 MB default fires by
  * itself); salting needs no thresholds. Three measured plans:
  *
  *   plain      SMJ, AQE skew-join OFF  — the pathology
  *   aqe_skew   SMJ, AQE skew-join ON   — runtime split of the hot
  *              partition (needs AQE; unavailable to stream-stream joins)
  *   salted     Skew.saltedJoin(8)      — deterministic 8-way spread
  *
  * Each variant runs twice; the second (warm-cache) time is reported.
  * The hot partition is CPU/spill-bound sort work, so local[32] shows
  * the same one-straggler profile a 1000-executor cluster would —
  * everything else finishes and waits on the one reducer.
  */
object SkewScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("skew-scale-probe")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val n = 32000000L
    def big = HotKeyData.facts(spark, n)
    def small = HotKeyData.dim(spark)

    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      var rows = 0L
      var best = Double.MaxValue
      var skewFired = false
      (1 to 2).foreach { _ =>
        val df = mk
        val t0 = System.nanoTime()
        // execute the join's OWN plan (a wrapping count() builds a second
        // plan and reports ITS timings) — rows counted straight off the RDD
        rows = df.queryExecution.toRdd.count()
        best = (System.nanoTime() - t0) / 1e9
        skewFired = df.queryExecution.executedPlan.toString.contains("skew=true")
      }
      println(f"SKEWPROBE $label%-10s ${best}%7.2f s   ($rows rows, skewSplit=$skewFired)")
    }

    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time("plain")(big.join(small, Seq("key")))
    }
    withConf(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // fire at fixture size; production leaves the 256 MB defaults
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB") {
      time("aqe_skew")(big.join(small, Seq("key")))
    }
    withConf("spark.sql.adaptive.skewJoin.enabled" -> "false") {
      time("salted_8")(
        Skew.saltedJoin(big, small, "key", 8, saltFrom = Seq(col("v"))))
      time("salted_32")(
        Skew.saltedJoin(big, small, "key", 32, saltFrom = Seq(col("v"))))
    }
    spark.stop()
  }
}
