package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale smoke (r7 verdict item 6): the 100×-scale claims in SCALE.md
  * are argued from plan shape; this main produces the empirical datapoint
  * — per-key seconds of `SparkEntry.queries` keys at two scales, plus
  * output-row counts for the dedup keys (candidate growth is the quantity
  * that decides whether an LSH design survives scale-up). Two modes:
  *  - `runMain graft.ScaleSmoke [keys]`: sf0.1 vs a synthesized "sf1"
  *    (10 copies, `target/sf1`) over [[Keys]];
  *  - `runMain graft.ScaleSmoke sf10 [keys]`: sf1 vs a synthesized
  *    "sf10" (100 copies, `target/sf10`) over [[Sf10Keys]].
  * No sf1 or sf10 fixture ships; [[synthesize]] builds both.
  *
  * NOT a gate: results land in SCALE.md §"10× smoke" with interpretation.
  */
object ScaleSmoke {
  private val Keys = Seq(
    "q_json_funcs", "q_math_funcs", "q_doc_fingerprint", "q_cast_types",
    "q_dedup_simhash", "q_connected_components", "q_map_funcs", "q_unpivot",
    "q_agg_percentiles", "q_dedup_minhash", "q_seq_pack",
    "q_stratified_sample", "q_dedup_incremental", "q_token_budget",
    "q_doc_chunk", "q_dedup_cluster_rep", "q_sessionize", "q_pmi_bigrams",
    "q_pagerank", "q_containment",
    "q_bfs_hops", "q_feature_hash", "q_attribution", "q_ewma",
    "q_basket_lift", "q_corr_matrix", "q_chi_square", "q_gini",
    "q_dedup_passage", "q_bpe_merges",
    "q_survival_km", "q_lift_curve", "q_hierarchy_rollup",
    "q_tree_paths", "q_ngram_lm",
    "q_kmeans", "q_sssp",
    "q_impute", "q_negative_sample",
    "q_ann_recall", "q_dedup_recall", "q_text_normalize",
    "q_dedup_embed")
  // rows-out tracked where output size ≈ candidate/pair count (the scale
  // health metric for LSH designs); timing keys alone say nothing about
  // whether candidates exploded. q_stratified_sample's rows-out is the
  // inverse pin: k·groups must stay FLAT at 10× (the WindowGroupLimit
  // partial-limit story).
  // q_bfs_hops rows-out = blast-radius growth through the shared supplier
  // hubs (seeds stay copy-0, reachability crosses copies — expected ~10×
  // at hop 2); q_feature_hash rows-out is a FLAT pin like
  // q_stratified_sample (|langs|×64 buckets is scale-invariant even as
  // the per-copy word prefixes grow the vocabulary 10×).
  // q_survival_km rows-out is a FLAT pin: the life-table grain is
  // duration-VALUED (hours), scale-invariant as users grow 10× with the
  // same time structure — the sweep-stays-small claim made empirical.
  // q_hierarchy_rollup rows-out = node count, a LINEAR pin (closed-form
  // fan-out can't explode candidates; it can only mirror the keyspace).
  // q_ann_recall / q_dedup_recall rows-out are FLAT pins (5 threshold
  // rows each at any corpus size); their TIMING ratios measure the exact
  // arm — the brute-force truth cost that motivates sampling at scale.
  // q_kmeans rows-out is a FLAT pin (k×d grid, scale-invariant as the
  // vector set grows 10×); q_sssp rows-out is a FLAT pin at the node
  // count (suppliers are deliberately unshifted in the synthesis, so the
  // graph densifies instead of replicating — the dist frame must stay
  // node-sized as facts grow 10×).
  // q_dedup_embed rows-out = near-dup PAIR count — with the r16 per-copy
  // sign-pattern isometry the expectation is ~10× (each copy reproduces
  // the base pair set in its own rotated frame; cross-copy cosines sit
  // near 0), replacing the 252× identical-copy artifact the r15 gate
  // measured.
  private val CountKeys =
    Set("q_dedup_simhash", "q_dedup_minhash", "q_connected_components",
        "q_seq_pack", "q_stratified_sample", "q_dedup_incremental",
        "q_token_budget", "q_dedup_cluster_rep", "q_sessionize",
        "q_containment", "q_bfs_hops", "q_feature_hash",
        "q_basket_lift", "q_dedup_passage",
        "q_survival_km", "q_hierarchy_rollup",
        "q_kmeans", "q_sssp",
        "q_negative_sample",
        "q_ann_recall", "q_dedup_recall", "q_dedup_embed")

  /** The second decade (r17, VERDICT r16 item 7): the 6 worst sf1-ratio
    * keys re-measured at a synthesized sf10 (100 copies of sf0.1, same
    * per-copy isometry/prefix/shift discipline as [[synthesize]] — the
    * rules compose, so sf10's first ten copies ARE sf1's content). The
    * sf1 gate caught collect_set superlinearity; one more decade catches
    * the next one before 100×. Run with `runMain graft.ScaleSmoke sf10`. */
  private val Sf10Keys = Seq(
    "q_dedup_embed", "q_doc_fingerprint", "q_winsorize", "q_pagerank",
    "q_containment", "q_dedup_ngram",
    // r18 widening (VERDICT r17 item 9): the LSH family, the pair
    // fan-out key, the sampler, and the iterative-merge key — the
    // decade checks keep catching what sf1 can't
    "q_dedup_minhash", "q_dedup_simhash", "q_basket_lift",
    "q_negative_sample", "q_bpe_merges",
    // r19 widening: the dedup finishers (label propagation over the
    // banded pair graph), banded recall, the ANN baseline, and the
    // edit-distance candidate join — heavy shapes sf1 can't expose
    "q_connected_components", "q_dedup_cluster_rep", "q_dedup_recall",
    "q_similarity_topk", "q_fuzzy_match")
  private val Sf10CountKeys =
    Set("q_dedup_embed", "q_containment", "q_dedup_ngram",
        "q_dedup_minhash", "q_dedup_simhash", "q_basket_lift",
        "q_negative_sample", "q_dedup_cluster_rep", "q_fuzzy_match")

  // Portable like Bench (ADVICE r8): source fixture and parallelism come
  // from the same env knobs
  private def src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private def cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Every mode's session: Bench's config and extensions at `local[cpus]`. */
  private def session(): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Column label of [[src]] scaled `times`× ("sf0.1", 10 → "sf1"); a
    * source dir not named sf<scale> labels as "<name>×<times>". */
  private def scaleLabel(times: Int): String = {
    val name = Paths.get(src).getFileName.toString
    "sf(\\d+(?:\\.\\d+)?)".r.unapplySeq(name) match {
      case Some(Seq(sf)) =>
        "sf" + (BigDecimal(sf) * times).bigDecimal.stripTrailingZeros
          .toPlainString
      case _ => if (times == 1) name else s"$name×$times"
    }
  }

  /** Marker-guarded synthesis: runs `build` unless `out` holds a
    * `_built_<version>` marker that records `from` as its source, then
    * writes that marker. A dir synthesized from another source (another
    * scale) is rebuilt, never silently reused; the old marker goes first,
    * so an interrupted rebuild is never mistaken for a finished one. */
  private def synthesizeOnce(from: String, out: String, version: String)
      (build: => Unit): Unit = {
    val marker = Paths.get(s"$out/_built_$version")
    val source = Paths.get(from).toAbsolutePath.normalize.toString
    if (Files.exists(marker) && Files.readString(marker) == source) return
    Files.deleteIfExists(marker)
    build
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, source)
  }

  /** One key run the way Bench runs it (noop sink); wall seconds. */
  private def runKey(spark: SparkSession, key: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(key)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The keys of `all` that `only` names (all of them when it is empty);
    * an unknown name fails fast — same contract as Bench/Verify. */
  private def pick(all: Seq[String], only: Set[String]): Seq[String] = {
    val unknown = only -- all
    require(unknown.isEmpty, s"unknown smoke keys: ${unknown.mkString(", ")}")
    all.filter(k => only.isEmpty || only(k))
  }

  /** The ratio loop both modes share, run after each mode's own warm-up:
    * per-key seconds at the `lo` and `hi` scales (min of `passes` timed
    * passes each), then output rows at both scales for `countKeys`, as
    * two tables. `lo` and `hi` pair a column label with each key's dir. */
  private def ratioTables(spark: SparkSession, keys: Seq[String],
      countKeys: Set[String], passes: Int,
      lo: (String, String => String), hi: (String, String => String))
      : Unit = {
    System.gc(); Thread.sleep(2000)
    def minOfPasses(dirFor: String => String): Map[String, Double] =
      (1 to passes)
        .map(_ => keys.map(k => k -> runKey(spark, k, dirFor(k))).toMap)
        .reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val small = minOfPasses(lo._2)
    val big = minOfPasses(hi._2)
    val counts = keys.filter(countKeys).sorted.map { k =>
      k -> (SparkEntry.queries(k)(spark, lo._2(k)).count(),
            SparkEntry.queries(k)(spark, hi._2(k)).count())
    }
    println(s"\nkey | ${lo._1} s | ${hi._1} s | ratio")
    keys.foreach { k =>
      println(f"$k | ${small(k)}%.2f | ${big(k)}%.2f | ${big(k) / small(k)}%.1fx")
    }
    println(s"\nkey | rows ${lo._1} | rows ${hi._1} | ratio")
    counts.foreach { case (k, (a, b)) =>
      println(f"$k | $a | $b | ${b.toDouble / a}%.1fx")
    }
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "sf10" +: only => sf10Main(only.toSet)
    case only => smokeMain(only.toSet)
  }

  private def smokeMain(only: Set[String]): Unit = {
    // SPARK_GRAFT_SMOKE_PASSES > 1 takes the min-of-N of the timed passes
    // (min, not median: the smoke compares the SAME key across scales, so
    // the best observed pass is the least noise-contaminated estimate of
    // intrinsic cost on both sides).
    val passes = math.max(1,
      scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_SMOKE_PASSES", "1")
        .trim.toInt).getOrElse(1))
    val keys = pick(Keys, only)
    val spark = session()
    synthesize(spark, src, "target/sf1", 10)
    buildSf1Hier(spark, 10)

    // q_hierarchy_rollup reads ONLY customer, which the main synthesis
    // deliberately leaves unscaled (q_gini's reading depends on the
    // constant-size ranked frame) — its 10× side lives in target/sf1h
    def bigDir(k: String): String =
      if (k == "q_hierarchy_rollup" || k == "q_tree_paths") "target/sf1h"
      else "target/sf1"

    // warm both scales (JIT/codegen/footers)
    keys.foreach(k => runKey(spark, k, src))
    keys.foreach(k => runKey(spark, k, bigDir(k)))
    ratioTables(spark, keys, CountKeys, passes,
      scaleLabel(1) -> (_ => src), scaleLabel(10) -> bigDir)
    spark.stop()
  }

  private def sf10Main(only: Set[String]): Unit = {
    val keys = pick(Sf10Keys, only)
    val spark = session()
    synthesize(spark, src, "target/sf1", 10)
    synthesize(spark, src, "target/sf10", 100)
    // warm the sf1 side only, then one timed pass per scale (the sf10
    // side is minutes-long — min-of-N would double an already-long run;
    // the DECADE ratio sf10/sf1 is the signal and tolerates pass noise)
    keys.foreach(k => runKey(spark, k, "target/sf1"))
    ratioTables(spark, keys, Sf10CountKeys, 1,
      scaleLabel(10) -> (_ => "target/sf1"),
      scaleLabel(100) -> (_ => "target/sf10"))
    spark.stop()
  }

  /** Synthesizes `copies` id-remapped copies of `from`'s fact and corpus
    * tables under `out`, once per source (see [[synthesizeOnce]]):
    *  - documents: every WORD gets a per-copy prefix, so copies share no
    *    vocabulary — near-dup structure is preserved inside each copy and
    *    never bridges copies (a plain text copy would make every doc a
    *    10-way near-dup of itself and measure a pathological dup-rate
    *    instead of scale-up).
    *  - events/lineitem/orders: ids shifted per copy — per-user / per-order
    *    group SIZES stay constant while group COUNT grows with the copies,
    *    which is how a bigger corpus actually looks.
    *  - embeddings: a per-copy sign pattern (below).
    * The dims (region, nation, customer, supplier, part) pass through
    * unscaled. The rules compose: the first ten copies of a 100-copy build
    * are the 10-copy build's content.
    *
    * The marker is versioned: the orders-scaling change (r11), the
    * embeddings-scaling changes (r13 q_kmeans; r16 per-copy sign pattern)
    * and the one-rule merge (events now scale at every copy count)
    * invalidate any dir built by an earlier synthesis — an unversioned
    * marker would let a stale fixture feed a wrong-size input and print a
    * plausible-but-wrong ratio. */
  private[graft] def synthesize(spark: SparkSession, from: String,
      out: String, copies: Int): Unit = synthesizeOnce(from, out, "v5") {
    // The copy shift (c·10M for doc_id/event_id/user_id/vec_id/o_custkey)
    // is only collision-free while every base id stays below 10M — a
    // larger source fixture would silently alias keys across copies and
    // corrupt the ratios (ADVICE r13). Fail loudly instead.
    val maxBaseId = Seq(
      "documents.parquet" -> "doc_id", "events.parquet" -> "event_id",
      "events.parquet" -> "user_id", "embeddings.parquet" -> "vec_id",
      "orders.parquet" -> "o_custkey").map { case (t, c) =>
      spark.read.parquet(s"$from/$t").agg(max(col(c).cast("long")))
        .head.getLong(0)
    }.max
    require(maxBaseId < 10000000L,
      s"id-shift assumes base ids < 10M, saw $maxBaseId — raise the shift")
    def scaled(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$from/$table.parquet")
      (0 until copies).map(c => copy(base, c)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    scaled("documents") { (docs, c) =>
      docs.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('x$c', w)), ' ')")
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }

    // ts passes through in the form THIS session surfaces it (raw nanos
    // long → plain int64 write; micros-NTZ reads as LTZ here because this
    // session disables NTZ inference → UTC-adjusted micros write);
    // Tables.events handles long, NTZ, and LTZ, so every round-trip reads
    // back fine.
    scaled("events") { (ev, c) =>
      ev.select(
        (col("event_id") + lit(c * 10000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }

    scaled("lineitem") { (li, c) =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(c * 1000000000L))
    }

    // orders scale in lockstep with lineitem (shifted order AND customer
    // keys), so the q_pagerank purchase graph grows the realistic way:
    // more customers and edges over the SAME supplier base (l_suppkey is
    // deliberately unshifted — suppliers bridge the copies, the graph
    // stays one component instead of disjoint replicas)
    scaled("orders") { (ord, c) =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(c * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 10000000L))
    }

    // embeddings: id-shifted copies, each under a per-copy deterministic
    // coordinate SIGN PATTERN (r16, VERDICT r15 item 5) — an ISOMETRY per
    // copy: intra-copy dot products, norms, and the k-means cluster
    // structure are preserved EXACTLY (Σ s_i² x_i y_i = Σ x_i y_i), while
    // CROSS-copy cosines scramble toward 0 (random ±1 agreement over 64
    // dims, std ≈ 1/8), so q_dedup_embed's scaling row measures real
    // near-dup pair growth instead of the identical-copy artifact (252×
    // pairs: every vector was a 10-way dup of itself). Copy 0 passes
    // through unchanged — the q_kmeans / AnnIndex deterministic init seeds
    // (smallest vec_ids) keep their exact values.
    scaled("embeddings") { (emb, c) =>
      val flipped =
        if (c == 0) emb
        else emb.withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> " +
               s"CASE WHEN pmod(hash($c, i), 2) = 0 THEN x ELSE -x END)"))
      flipped.withColumn("vec_id", col("vec_id") + lit(c * 10000000L))
    }

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$from/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }

  /** 10× customer dim for q_hierarchy_rollup / q_tree_paths (target/sf1h): copy c
    * shifts c_custkey by c·200000 — every key stays under 2^21, so the
    * 21-level ancestor fan-out still reaches root 1 from every node and
    * the deepest level saturates at 20 (the keyspace-log2 growth a 10×
    * dim actually exhibits). Kept OUT of target/sf1 because q_gini's
    * smoke reading depends on the unscaled customer frame. */
  private def buildSf1Hier(spark: SparkSession, copies: Int): Unit =
      synthesizeOnce(src, "target/sf1h", "v1") {
    val cust = spark.read.parquet(s"$src/customer.parquet")
    (0 until copies).map { c =>
      cust.withColumn("c_custkey",
        (col("c_custkey") + lit(c * 200000)).cast("int"))
    }.reduce(_ unionByName _)
      .coalesce(4).write.mode("overwrite")
      .parquet("target/sf1h/customer.parquet")
  }
}
