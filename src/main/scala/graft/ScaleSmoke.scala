package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** One-pass 10× scale smoke (r7 verdict item 6): the 100×-scale claims in
  * SCALE.md are argued from plan shape; this main produces the empirical
  * datapoint — per-key seconds at sf0.1 vs a synthesized "sf1" (10× rows)
  * for the top bench keys, plus output-row counts for the dedup keys
  * (candidate growth is the quantity that decides whether an LSH design
  * survives scale-up).
  *
  * sf1 synthesis (driver ships no sf1 fixture): 10 id-remapped copies of
  * the sf0.1 tables the smoke keys touch, under `target/sf1`.
  *  - documents: every WORD gets a per-copy prefix, so copies share no
  *    vocabulary — near-dup structure is preserved inside each copy and
  *    never bridges copies (a plain text copy would make every doc a
  *    10-way near-dup of itself and measure a pathological dup-rate
  *    instead of scale-up).
  *  - events/lineitem/orders: ids shifted per copy — per-user / per-order
  *    group SIZES stay constant while group COUNT grows 10×, which is how
  *    a bigger corpus actually looks (orders scales in lockstep with
  *    lineitem for the q_pagerank purchase graph).
  * Remaining tables pass through unscaled (no smoke key reads them).
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
    * per-copy isometry/prefix/shift discipline as [[buildSf1]] — the
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

  private def decades =
    Seq(scaleLabel(10) -> "target/sf1", scaleLabel(100) -> "target/sf10")

  /** Marker-guarded synthesis: runs `build` unless `out` holds a
    * `_built_<version>` marker that records [[src]] as its source, then
    * writes that marker. A dir synthesized from another source (another
    * scale) is rebuilt, never silently reused; the old marker goes first,
    * so an interrupted rebuild is never mistaken for a finished one. */
  private def synthesizeOnce(out: String, version: String)(build: => Unit)
      : Unit = {
    val marker = Paths.get(s"$out/_built_$version")
    val from = Paths.get(src).toAbsolutePath.normalize.toString
    if (Files.exists(marker) && Files.readString(marker) == from) return
    Files.deleteIfExists(marker)
    build
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, from)
  }

  /** [[session]] with both [[decades]] synthesized from [[src]]. */
  private def decadeSession(): SparkSession = {
    val spark = session()
    buildSf1(spark, "target/sf1", 10)
    buildSfN(spark, "target/sf10", 100)
    spark
  }

  /** `body`'s result and its wall seconds. */
  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One key run the way Bench runs it (noop sink); wall seconds. */
  private def runKey(spark: SparkSession, key: String, dir: String): Double =
    timed(SparkEntry.queries(key)(spark, dir)
      .write.format("noop").mode("overwrite").save())._2

  private def sf10Main(only: Set[String]): Unit = {
    val unknown = only -- Sf10Keys
    require(unknown.isEmpty, s"unknown sf10 keys: ${unknown.mkString(", ")}")
    val keys = Sf10Keys.filter(k => only.isEmpty || only(k))
    val countKeys = Sf10CountKeys.filter(k => only.isEmpty || only(k))
    val spark = decadeSession()
    // warm both scales, then one timed pass per scale (the sf10 side is
    // minutes-long — min-of-N would double a already-long run; the
    // DECADE ratio sf10/sf1 is the signal and tolerates pass noise)
    keys.foreach(k => runKey(spark, k, "target/sf1"))
    System.gc(); Thread.sleep(2000)
    val sf1 = keys.map(k => k -> runKey(spark, k, "target/sf1")).toMap
    val sf10 = keys.map(k => k -> runKey(spark, k, "target/sf10")).toMap
    val counts = countKeys.toSeq.sorted.map { k =>
      k -> (SparkEntry.queries(k)(spark, "target/sf1").count(),
            SparkEntry.queries(k)(spark, "target/sf10").count())
    }
    val (lo, hi) = (scaleLabel(10), scaleLabel(100))
    println(s"\nkey | $lo s | $hi s | decade ratio")
    keys.foreach { k =>
      println(f"$k | ${sf1(k)}%.2f | ${sf10(k)}%.2f | ${sf10(k) / sf1(k)}%.1fx")
    }
    println(s"\nkey | rows $lo | rows $hi | ratio")
    counts.foreach { case (k, (a, b)) =>
      println(f"$k | $a | $b | ${b.toDouble / a}%.1fx")
    }
    spark.stop()
  }

  /** Auto-gated embedding dedup across three decades (r18, VERDICT r17
    * item 5): the fixed-gate q_dedup_embed decade row measured 99.8×
    * pairs at 10× (the background-tail quadratic); this mode runs
    * [[graft.ops.PipelineOps.embedNearDup]] at the signBits/minCos that
    * [[graft.ops.PipelineOps.sizeEmbedGate]] sizes from the corpus itself
    * — at sf0.1, sf1, and sf10 and prints the
    * chosen gates, pair counts, and seconds. PASS shape: pair growth
    * ≈ linear in corpus size (the gate outruns the tail).
    * Run with `runMain graft.ScaleSmoke embedAuto`. */
  private def embedAutoMain(): Unit = {
    val spark = decadeSession()
    println("\nscale | n | signBits | minCos | pairs | s")
    for ((label, dir) <- (scaleLabel(1) -> src) +: decades) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = emb.count()
      val (bits, cosGate) = graft.ops.PipelineOps.sizeEmbedGate(emb)
      val (pairs, secs) = timed(graft.ops.PipelineOps
        .embedNearDup(emb, bits, cosGate).count())
      println(f"$label | $n | $bits | $cosGate%.4f | $pairs | $secs%.1f")
    }
    spark.stop()
  }

  /** Broadcast vs co-partitioned pagerank across the second decade (r18,
    * VERDICT r17 item 8): the broadcast strategy's bound is the rank
    * frame broadcast (|V| rows × 8 rounds); `broadcastRanks = false`
    * trades it for a per-iteration edge-sized exchange. This measures
    * both on the q_pagerank graph at sf1 and sf10 (|V| ≈ 0.16 M / 1.5 M)
    * and cross-checks a top-slice equality at each scale — the crossover
    * guidance for SCALE.md. Run with `runMain graft.ScaleSmoke pagerank`. */
  private def pagerankMain(): Unit = {
    val spark = decadeSession()
    def graphOf(dir: String): DataFrame = {
      val le = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
                 (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      le.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
                col("e.w").as("w"))
    }
    println("\nscale | nodes | broadcast s | co-partitioned s | top-20 equal")
    for ((label, dir) <- decades) {
      val edges = graphOf(dir)
      val nodes = edges.select(col("src")).distinct().count()
      def run(bcast: Boolean) = timed {
        graft.ops.GraphRank.pagerank(edges, iters = 8,
          checkpointEvery = 2, broadcastRanks = bcast)
          .orderBy(col("r").desc, col("node")).limit(20)
          .collect().map(x => x.getLong(0) -> x.getDouble(1)).toSeq
      }
      val (topB, tb) = run(bcast = true)
      val (topC, tc) = run(bcast = false)
      println(f"$label | $nodes | $tb%.1f | $tc%.1f | ${topB == topC}")
    }
    spark.stop()
  }

  /** The 120-bit simhash variant across the decade (r18 — the widened
    * smoke's q_dedup_simhash catch): 4×30-bit bands cut candidate volume
    * 2^15-fold vs the 60-bit key's 4×15 banding. Prints pairs + seconds
    * at sf1 and sf10 for both widths.
    * Run with `runMain graft.ScaleSmoke simhash128`. */
  private def simhash128Main(): Unit = {
    val spark = decadeSession()
    println("\nscale | width | pairs | s")
    for ((label, dir) <- decades) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      for ((w, f) <- Seq(
          "60" -> ((d: DataFrame) => graft.ops.PipelineOps.simhashPairs(d)),
          "120" -> ((d: DataFrame) =>
            graft.ops.PipelineOps.simhashPairs128(d)))) {
        // the 60-bit form at sf10 is the known 184 s row — skip re-timing
        if (!(label == "sf10" && w == "60")) {
          val (pairs, secs) = timed(f(docs).count())
          println(f"$label | $w | $pairs | $secs%.1f")
        }
      }
    }
    spark.stop()
  }

  /** The self-sized SimHash gate across the decade (r19, VERDICT r18
    * item 3): [[graft.ops.PipelineOps.simhashPairsAuto]] must pick
    * 60-bit below the crossover (sf1 ≈ 5×10⁴ docs) and 120-bit above it
    * (sf10 ≈ 5×10⁵), with the picked width's wall — never the 60-bit
    * quadratic at the decade. Run with `runMain graft.ScaleSmoke
    * simhashAuto`. */
  private def simhashAutoMain(): Unit = {
    val spark = decadeSession()
    println("\nscale | n | width(auto) | pairs | s")
    for ((label, dir) <- decades) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n = docs.count()
      val w = graft.ops.PipelineOps.simhashWidthFor(n)
      val (pairs, secs) =
        timed(graft.ops.PipelineOps.simhashPairsAuto(docs).count())
      println(f"$label | $n | $w | $pairs | $secs%.1f")
    }
    spark.stop()
  }

  /** Bucketed vs plain fact-to-fact join at sf1 (r18): lineitem ⋈ orders
    * on the order key — the canonical shuffle-dominated join — with both
    * sides as graftlake tables, once plain and once bucket-laid-out on
    * the key. Measures the per-query wall with broadcast disabled (the
    * fact-to-fact shape) and prints the exchange counts; the bucketed
    * pair must plan ZERO. Run with `runMain graft.ScaleSmoke bucketJoin`
    * (sf1) or `bucketJoin10` (the r19 decade row — same shape at 10×,
    * where the deleted shuffle is 10× bigger). */
  private def bucketJoinMain(decade: Boolean = false): Unit = {
    val spark = session()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (sfDir, root) =
      if (decade) {
        buildSfN(spark, "target/sf10", 100)
        ("target/sf10", "target/bucket_join_sf10")
      } else {
        buildSf1(spark, "target/sf1", 10)
        ("target/sf1", "target/bucket_join_sf1")
      }
    import graft.sources.SnapshotLake
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    synthesizeOnce(root, "v1") {
      SnapshotLake.commit(li, s"$root/li_plain", append = false)
      SnapshotLake.commit(ord, s"$root/ord_plain", append = false)
      SnapshotLake.commitBucketed(li.withColumnRenamed("l_orderkey", "k"),
        s"$root/li_bucket", Seq("k"), cpus, append = false)
      SnapshotLake.commitBucketed(ord.withColumnRenamed("o_orderkey", "k"),
        s"$root/ord_bucket", Seq("k"), cpus, append = false)
    }
    def lake(t: String) = spark.read.format("graftlake").load(s"$root/$t")
    def time(df: DataFrame): (Double, Int) = {
      val (_, secs) = timed(df.write.format("noop").mode("overwrite").save())
      val plan = df.queryExecution.executedPlan.toString
      (secs, "Exchange (hash|range|single)".r.findAllIn(plan).length)
    }
    def plainJoin = lake("li_plain")
      .join(lake("ord_plain"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_quantity")).as("q"), sum(col("o_totalprice")).as("t"))
    def bucketJoin = lake("li_bucket")
      .join(lake("ord_bucket").withColumnRenamed("k", "k2"),
        col("k") === col("k2"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("l_quantity")).as("q"), sum(col("o_totalprice")).as("t"))
    // warm, then two timed passes each, min
    time(plainJoin); time(bucketJoin)
    val p = Seq(time(plainJoin), time(plainJoin))
    val b = Seq(time(bucketJoin), time(bucketJoin))
    println("\nlayout | s (min of 2) | exchanges")
    println(f"plain | ${p.map(_._1).min}%.2f | ${p.head._2}")
    println(f"bucketed | ${b.map(_._1).min}%.2f | ${b.head._2}")
    spark.stop()
  }

  /** The two r19 text-scale variants across the decade: delete-
    * neighborhood fuzzy match (vs the contract key's 21.5× decade wall
    * under hot-initial blocking) and the 1-in-k sampled recall audit
    * (vs the exact truth join's Σdf² arm). Run with `runMain
    * graft.ScaleSmoke textScale`. */
  private def textScaleMain(): Unit = {
    val spark = decadeSession()
    println("\nfuzzy variant | scale | rows | s")
    for ((label, dir) <- decades) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val (n, secs) = timed(
        graft.ops.TextOps.fuzzyMatchDeletes(docs).count())
      println(f"deletes | $label | $n | $secs%.1f")
    }
    println("\nrecall arm | scale | s | recall@0.5")
    def recallAt05(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("threshold") === 0.5).head.getDouble(4)
    val (fr, fs) = timed(recallAt05(
      graft.ops.TextOps.minhashRecall(spark, "target/sf1")))
    println(f"exact | ${scaleLabel(10)} | $fs%.1f | $fr%.4f")
    val (sr, ss) = timed(recallAt05(
      graft.ops.TextOps.minhashRecallSampled(spark, "target/sf10", 10)))
    println(f"sampled 1-in-10 | ${scaleLabel(100)} | $ss%.1f | $sr%.4f")
    spark.stop()
  }

  /** Dir-granular SQL UPDATE at sf1 (r19, VERDICT r18 item 7): a
    * 10-directory documents table takes a one-row SQL UPDATE; the
    * rewrite must touch exactly ONE directory and write bytes
    * proportional to that directory, not the table — the runtime
    * group-filtering claim measured, not just plan-asserted. Run with
    * `runMain graft.ScaleSmoke sqlDml`. */
  private def sqlDmlMain(): Unit = {
    val spark = session()
    import graft.sources.SnapshotLake
    val t = new java.io.File("target/sql_dml_sf1/docs").getAbsolutePath
    val docs = spark.read.parquet(s"$src/documents.parquet")
    if (SnapshotLake.latest(spark, t).isEmpty) {
      // ten appends = ten directories, id-shifted like buildSf1
      for (c <- 0 until 10)
        SnapshotLake.commit(docs.select(
          (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars")), t)
    }
    val base = SnapshotLake.latest(spark, t).get
    val before = SnapshotLake.manifestDirs(spark, t, base)
    def bytesOf(dirs: Seq[String]): Long = dirs.map { d =>
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength
    }.sum
    val totalBytes = bytesOf(before)
    val target = 3L * 10000000L + 42L // one row inside copy 3's dir
    val (_, secs) = timed(spark.sql(s"UPDATE graftlake.`$t` SET lang = 'xx' " +
      s"WHERE doc_id = $target"))
    val after = SnapshotLake.manifestDirs(spark, t,
      SnapshotLake.latest(spark, t).get)
    val replaced = before.diff(after)
    val added = after.diff(before)
    println(s"\ndirs | replaced | rewritten bytes | table bytes | s")
    println(f"${before.size} | ${replaced.size} (+${added.size} new) | " +
      f"${bytesOf(added)} | $totalBytes | $secs%.1f")
    require(replaced.size == 1 && added.size == 1,
      s"dir-granular UPDATE must replace exactly the matched dir, " +
      s"got replaced=${replaced.size} added=${added.size}")
    spark.stop()
  }

  /** r19 lake-planning smoke at sf1: the two zero/reduced-I/O features
    * against a 10-dir, 10×-lineitem lake.
    *  - metadata aggregate: `count(*)+min+max` answered from manifest
    *    stats (LocalTableScan) vs the V1 scanning count of the same
    *    table — the former must be orders of magnitude off the data
    *    path and EQUAL in value;
    *  - runtime dir pruning: a dim filtered to one dir's key range
    *    joining the fact, DPP on vs off — pruned-dir count printed, row
    *    sets must match. */
  private def lakePlanMain(): Unit = {
    val spark = session()
    import graft.sources.SnapshotLake
    val t = new java.io.File("target/lake_plan_sf1/fact").getAbsolutePath
    val li = spark.read.parquet(s"$src/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("k"),
        col("l_partkey").cast("long").as("p"),
        col("l_extendedprice").as("price"))
    if (SnapshotLake.latest(spark, t).isEmpty)
      for (c <- 0 until 10)
        SnapshotLake.commit(li.select(
          (col("k") + lit(c * 100000000L)).as("k"), col("p"),
          col("price")), t)
    val dirs = SnapshotLake
      .manifestDirs(spark, t, SnapshotLake.latest(spark, t).get)

    // warm footers/codegen on both paths
    spark.read.format("graftlake").load(t).count()

    val aggSql = s"SELECT count(*) AS c, min(k) AS mn, max(k) AS mx " +
      s"FROM graftlake.`$t`"
    spark.sql(aggSql).collect() // warm (catalog load, manifest read)
    val (metaRow, metaSecs) = timed(spark.sql(aggSql).collect()(0))
    val metaLocal = {
      val q = spark.sql(aggSql); q.collect()
      val pl = q.queryExecution.executedPlan.toString
      pl.contains("LocalTableScan") && !pl.contains("BatchScan")
    }
    def scanAgg() = {
      val df = spark.read.format("graftlake").load(t)
      df.agg(count(lit(1)), min("k"), max("k")).collect()(0)
    }
    scanAgg() // warm
    val (scanRow, scanSecs) = timed(scanAgg())
    require(metaRow.toSeq == scanRow.toSeq,
      s"metadata agg ≠ scan agg: ${metaRow.toSeq} vs ${scanRow.toSeq}")

    // runtime pruning: dim keys inside ONE copy's shifted range
    val dimT = new java.io.File("target/lake_plan_sf1/dim").getAbsolutePath
    if (SnapshotLake.latest(spark, dimT).isEmpty)
      SnapshotLake.commit(
        li.select((col("k") + lit(3L * 100000000L)).as("k"))
          .distinct().limit(2000).withColumn("tag", lit("t")), dimT)
    val joinSql = s"SELECT f.k, f.price FROM graftlake.`$t` f JOIN " +
      s"graftlake.`$dimT` d ON f.k = d.k AND d.tag = 't'"
    def dpp(on: Boolean): Unit = spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled", on.toString)
    // warm BOTH modes (footers, codegen, broadcast build), then
    // min-of-2 timed passes per mode
    dpp(true); spark.sql(joinSql).count()
    dpp(false); spark.sql(joinSql).count()
    dpp(true)
    val rowsOn = spark.sql(joinSql).count()
    val onSecs = (1 to 2).map(_ =>
      timed(spark.sql(joinSql).count())._2).min
    val prunedDirs = {
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: kids.flatMap(nodes)
      }
      val q = spark.sql(joinSql); q.collect()
      nodes(q.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.scan
      }.collect {
        case r: graft.sources.RuntimeDirPruning => r.runtimePrunedDirs
      }.flatten.toSet.size
    }
    dpp(false)
    val rowsOff = spark.sql(joinSql).count()
    val offSecs = (1 to 2).map(_ =>
      timed(spark.sql(joinSql).count())._2).min
    dpp(true)
    require(rowsOn == rowsOff,
      s"DPP changed the row count: $rowsOn vs $rowsOff")

    // branch + publish are O(manifest): zero data copy at any size
    def bytesUnder(p: String): Long = {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) 0L
      else fs.getContentSummary(hp).getLength
    }
    SnapshotLake.dropBranch(spark, t, "smoke")
    val tableBytes = bytesUnder(s"$t/data")
    val (_, brSecs) = timed(SnapshotLake.branch(spark, t, "smoke"))
    val branchDataBytes = bytesUnder(
      s"${SnapshotLake.branchRoot(t, "smoke")}/data")
    val (_, ffSecs) = timed {
      // publish the (unchanged) branch back — a pure manifest commit
      SnapshotLake.fastForward(spark, t, "smoke").get
    }
    SnapshotLake.dropBranch(spark, t, "smoke")

    println(s"\nmetaAgg | localScan | s | scan twin s")
    println(f"${metaRow.toSeq.mkString(",")} | $metaLocal | " +
      f"$metaSecs%.3f | $scanSecs%.2f")
    println(s"runtimePrune | dirs | pruned | dppOn s | dppOff s | rows")
    println(f"- | ${dirs.size} | $prunedDirs | $onSecs%.2f | " +
      f"$offSecs%.2f | $rowsOn")
    println(s"branch | table MB | branch-data bytes | branch s | " +
      "publish s")
    println(f"- | ${tableBytes / 1e6}%.0f | $branchDataBytes | " +
      f"$brSecs%.2f | $ffSecs%.2f")
    require(metaLocal, "metadata agg must plan LocalTableScan at sf1")
    require(prunedDirs == dirs.size - 1,
      s"expected ${dirs.size - 1} dirs pruned, got $prunedDirs")
    require(branchDataBytes == 0L,
      s"branching must copy ZERO data bytes, saw $branchDataBytes")
    spark.stop()
  }

  /** N-copy synthesis with the [[buildSf1]] rules generalized (only the
    * tables the sf10 keys read are scaled; dims pass through). */
  private def buildSfN(spark: SparkSession, out: String, copies: Int)
      : Unit = synthesizeOnce(out, "v1") {
    val maxBaseId = Seq(
      "documents.parquet" -> "doc_id", "embeddings.parquet" -> "vec_id",
      "orders.parquet" -> "o_custkey").map { case (t, c) =>
      spark.read.parquet(s"$src/$t").agg(max(col(c).cast("long")))
        .head.getLong(0)
    }.max
    require(maxBaseId < 10000000L,
      s"sfN id-shift assumes base ids < 10M, saw $maxBaseId")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { c =>
      docs.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('x$c', w)), ' ')")
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { c =>
      val flipped =
        if (c == 0) emb
        else emb.withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> " +
               s"CASE WHEN pmod(hash($c, i), 2) = 0 THEN x ELSE -x END)"))
      flipped.withColumn("vec_id", col("vec_id") + lit(c * 10000000L))
    }.reduce(_ unionByName _)
      .repartition(16).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies).map { c =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(c * 1000000000L))
    }.reduce(_ unionByName _)
      .repartition(64).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until copies).map { c =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(c * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 10000000L))
    }.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "events"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case "sf10" +: only => sf10Main(only.toSet)
    case Seq("embedAuto") => embedAutoMain()
    case Seq("pagerank") => pagerankMain()
    case Seq("simhash128") => simhash128Main()
    case Seq("simhashAuto") => simhashAutoMain()
    case Seq("bucketJoin") => bucketJoinMain()
    case Seq("bucketJoin10") => bucketJoinMain(true)
    case Seq("sqlDml") => sqlDmlMain()
    case Seq("lakePlan") => lakePlanMain()
    case Seq("textScale") => textScaleMain()
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
    val out = "target/sf1"
    val copies = 10
    // optional positional args restrict the smoke to the named keys —
    // same contract as Bench/Verify (unknown names fail fast)
    val unknownKeys = only -- Keys
    require(unknownKeys.isEmpty,
      s"unknown smoke keys: ${unknownKeys.mkString(", ")}")
    val keys = Keys.filter(k => only.isEmpty || only(k))
    val countKeys = CountKeys.filter(k => only.isEmpty || only(k))
    val spark = session()
    buildSf1(spark, out, copies)
    buildSf1Hier(spark, copies)

    // q_hierarchy_rollup reads ONLY customer, which the main synthesis
    // deliberately leaves unscaled (q_gini's reading depends on the
    // constant-size ranked frame) — its 10× side lives in target/sf1h
    def bigDir(k: String): String =
      if (k == "q_hierarchy_rollup" || k == "q_tree_paths") "target/sf1h" else out

    // warm both scales (JIT/codegen/footers), then min-of-N timed passes
    keys.foreach(k => runKey(spark, k, src))
    keys.foreach(k => runKey(spark, k, bigDir(k)))
    System.gc(); Thread.sleep(2000)
    def minOfPasses(dirFor: String => String): Map[String, Double] =
      (1 to passes)
        .map(_ => keys.map(k => k -> runKey(spark, k, dirFor(k))).toMap)
        .reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val small = minOfPasses(_ => src)
    val big = minOfPasses(bigDir)
    val counts = countKeys.toSeq.sorted.map { k =>
      k -> (SparkEntry.queries(k)(spark, src).count(),
            SparkEntry.queries(k)(spark, bigDir(k)).count())
    }

    val (lo, hi) = (scaleLabel(1), scaleLabel(10))
    println(s"\nkey | $lo s | $hi s | ratio")
    keys.foreach { k =>
      println(f"$k | ${small(k)}%.2f | ${big(k)}%.2f | ${big(k) / small(k)}%.1fx")
    }
    println(s"\nkey | rows $lo | rows $hi | ratio")
    counts.foreach { case (k, (a, b)) =>
      println(f"$k | $a | $b | ${b.toDouble / a}%.1fx")
    }
    spark.stop()
  }

  /** Synthesize target/sf1 from [[src]] once per source (see
    * [[synthesizeOnce]]). The marker is versioned: the orders-scaling
    * change (r11) and the embeddings-scaling changes (r13 q_kmeans; r16
    * per-copy sign pattern) invalidate any sf1 built by an earlier
    * synthesis — an unversioned marker would let a stale fixture
    * (unscaled orders / embeddings) feed a 1/10-size input and print a
    * plausible-but-wrong ratio. */
  private def buildSf1(spark: SparkSession, out: String, copies: Int)
      : Unit = synthesizeOnce(out, "v4") {
    // The copy shift (c·10M for doc_id/event_id/user_id/vec_id/o_custkey)
    // is only collision-free while every base id stays below 10M — a
    // larger source fixture would silently alias keys across copies and
    // corrupt the 10× ratios (ADVICE r13). Fail loudly instead.
    val maxBaseId = Seq(
      "documents.parquet" -> "doc_id", "events.parquet" -> "event_id",
      "events.parquet" -> "user_id", "embeddings.parquet" -> "vec_id",
      "orders.parquet" -> "o_custkey").map { case (t, c) =>
      spark.read.parquet(s"$src/$t").agg(max(col(c).cast("long")))
        .head.getLong(0)
    }.max
    require(maxBaseId < 10000000L,
      s"sf1 id-shift assumes base ids < 10M, saw $maxBaseId — raise the shift")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { c =>
      docs.select(
        (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> concat('x$c', w)), ' ')")
          .as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ts passes through in the form THIS session surfaces it (raw nanos
    // long → plain int64 write; micros-NTZ reads as LTZ here because this
    // session disables NTZ inference → UTC-adjusted micros write);
    // Tables.events handles long, NTZ, and LTZ, so every round-trip reads
    // back fine.
    val ev = spark.read.parquet(s"$src/events.parquet")
    (0 until copies).map { c =>
      ev.select(
        (col("event_id") + lit(c * 10000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(c * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/events.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    (0 until copies).map { c =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(c * 1000000000L))
    }.reduce(_ unionByName _)
      .coalesce(16).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // orders scale in lockstep with lineitem (shifted order AND customer
    // keys), so the q_pagerank purchase graph grows the realistic way:
    // 10× customers and edges over the SAME supplier base (l_suppkey is
    // deliberately unshifted — suppliers bridge the copies, the graph
    // stays one component instead of 10 disjoint replicas)
    val ord = spark.read.parquet(s"$src/orders.parquet")
    (0 until copies).map { c =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(c * 1000000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(c * 10000000L))
    }.reduce(_ unionByName _)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/orders.parquet")

    // embeddings: 10 id-shifted copies, each under a per-copy
    // deterministic coordinate SIGN PATTERN (r16, VERDICT r15 item 5) —
    // an ISOMETRY per copy: intra-copy dot products, norms, and the
    // k-means cluster structure are preserved EXACTLY (Σ s_i² x_i y_i =
    // Σ x_i y_i), while CROSS-copy cosines scramble toward 0 (random
    // ±1 agreement over 64 dims, std ≈ 1/8), so q_dedup_embed's 10×
    // scaling row measures real near-dup pair growth instead of the
    // identical-copy artifact (252× pairs: every vector was a 10-way
    // dup of itself). Copy 0 passes through unchanged — the q_kmeans /
    // AnnIndex deterministic init seeds (smallest vec_ids) keep their
    // exact values.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { c =>
      val flipped =
        if (c == 0) emb
        else emb.withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> " +
               s"CASE WHEN pmod(hash($c, i), 2) = 0 THEN x ELSE -x END)"))
      flipped.withColumn("vec_id", col("vec_id") + lit(c * 10000000L))
    }.reduce(_ unionByName _)
      .coalesce(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }

  /** 10× customer dim for q_hierarchy_rollup / q_tree_paths (target/sf1h): copy c
    * shifts c_custkey by c·200000 — every key stays under 2^21, so the
    * 21-level ancestor fan-out still reaches root 1 from every node and
    * the deepest level saturates at 20 (the keyspace-log2 growth a 10×
    * dim actually exhibits). Kept OUT of target/sf1 because q_gini's
    * smoke reading depends on the unscaled customer frame. */
  private def buildSf1Hier(spark: SparkSession, copies: Int): Unit =
      synthesizeOnce("target/sf1h", "v1") {
    val cust = spark.read.parquet(s"$src/customer.parquet")
    (0 until copies).map { c =>
      cust.withColumn("c_custkey",
        (col("c_custkey") + lit(c * 200000)).cast("int"))
    }.reduce(_ unionByName _)
      .coalesce(4).write.mode("overwrite")
      .parquet("target/sf1h/customer.parquet")
  }
}
