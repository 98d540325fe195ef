package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Clustering / graph / statistics / profiling pack (round 13, third):
  * the remaining operator families a corpus-scale platform leans on
  * around the existing dedup/eval surface — iterative k-means over the
  * embedding column (the corpus-clustering primitive behind semantic
  * mixing and cluster-balanced sampling), weighted shortest paths
  * (supply-chain / co-occurrence distance, the weighted upgrade of
  * q_bfs_hops), mutual information (the information-theoretic sibling of
  * q_chi_square, the feature-selection staple), day-of-week seasonality
  * indices (the reporting decomposition q_yoy_growth doesn't cover),
  * winsorized/trimmed robust statistics (the outlier-hardened form of
  * q_feature_scale), and a per-column data-profiling audit (the
  * Deequ-style quality readout over any table). Reference scope: events
  * land via the streamsurfer batching client
  * (/root/reference/main.go:197-231); everything here is downstream
  * engine surface the task spec adds as first-class.
  *
  * Scale notes (100 TB lens):
  *  - q_kmeans: centroids ride in ONE broadcast row (k×d doubles);
  *    assignment is a broadcast nested-loop over that single row plus
  *    NARROW array math (zip_with/aggregate) — the fact side NEVER
  *    shuffles to assign. Only the centroid re-estimate shuffles, and it
  *    is a map-combinable hash agg to a k×d grid. Per iteration the
  *    pruned (vec_id, embedding) projection is re-scanned rather than
  *    cached — at 100 TB the input doesn't fit memory and parquet
  *    column pruning makes the re-scan the cheap choice (swap to
  *    `.persist(DISK_ONLY)` when iterations ≫ 2 and scan dominates).
  *  - q_sssp: Bellman-Ford relaxation rounds on a co-occurrence edge
  *    list; the dist frame is node-sized and BROADCASTS into each round's
  *    join (the q_pagerank discipline — edges never shuffle), each round
  *    localCheckpointed. Edge build is a per-order self-join: fan-out is
  *    bounded by order size (suppliers per order ≤ lines per order); a
  *    hot container key would be the skew risk — cap or salt upstream.
  *  - q_mutual_info: ONE map-combinable hash agg to the r×c grid; all
  *    margin/total math is grid windows, never facts.
  *  - q_seasonality: facts collapse to the CALENDAR day grain in one
  *    agg; dow math and indices run over ≤|days| rows, then a 7-row
  *    grid. Scale-invariant frames.
  *  - q_winsorize: the per-group rank window is the q_gini-class
  *    global-order-within-group trade-off — exact order statistics cost
  *    one sort of each group. At corpus scale swap the exact k-th
  *    statistics for `approx_percentile(p, [0.05, 0.95])` (one
  *    map-combinable sketch agg, no sort) and keep the clamp/trim
  *    arithmetic unchanged; the exact form here is the oracle-checkable
  *    twin of that swap (same discipline as q_rfm / q_gini).
  *  - q_schema_profile: one independent single-column agg per profiled
  *    column, UNION ALL'd — a columnar store reads the same bytes as a
  *    combined scan would, and each subplan keeps the cheap
  *    single-distinct path (the combined multi-distinct agg plans an
  *    Expand that multiplies every row by #distinct-aggs — measured ~3×
  *    slower at sf0.1). At 100 TB swap exact distincts for
  *    `approx_count_distinct` (HLL partials, one combined scan, no
  *    distinct shuffle at all) — the profiler's standard trade (Deequ
  *    does the same); min/max/null-rate stay exact either way.
  *
  * Fourth r13 pack (reporting / eval additions in the same file):
  *  - q_ngram_coverage: vocab rides BROADCAST (top-N via ordered limit —
  *    TakeOrderedAndProject, never a global sort); the token stream
  *    left-joins it without shuffling and collapses to the |langs| grid.
  *    At corpus scale the vocab is the tokenizer's (fixed, shipped), so
  *    the key is ONE scan + broadcast probe — the OOV-rate monitor every
  *    tokenizer rollout needs.
  *  - q_forecast_naive: calendar-day grain collapse, then a day-grain
  *    self-join (calendar-sized both sides) — scale-invariant after the
  *    one fact agg.
  *  - q_effect_size: ONE map-combinable hash agg (conditional decimal
  *    moments), closed-form Cohen's d / Hedges' g over the 1-row frame.
  *  - q_quantile_bands: day grain first; the per-week rank windows order
  *    ≤7 rows per partition — exact weekly P10/P50/P90 at any fact
  *    scale because the window frame is calendar-bounded.
  *
  * Fifth r13 pack (ML-data repair / sampling / advanced-SQL):
  *  - q_impute: group-median null imputation — ONE shuffle by group
  *    shared by the rank window, the median lookup, and the final agg
  *    (the q_winsorize order-statistic discipline; same documented
  *    `approx_percentile` swap at corpus scale).
  *  - q_negative_sample: deterministic hash-based negatives (the
  *    contrastive-training staple) — negatives come from the SAME
  *    md5-prefix digest both engines share (no RNG state, re-runnable),
  *    and the positive-set exclusion check is a (user, item)-keyed
  *    equi-join — the one real shuffle, on exactly the key a 100 TB
  *    interaction table is already bucketed by.
  *  - q_interval_union: union-of-overlapping-intervals coverage (the
  *    classic sweep): per-key running-max window → island ids → island
  *    agg, all on ONE customer-keyed shuffle; islands are
  *    bounded by interval count, never materializing per-day rows.
  *
  * Sixth r13 pack (the two remaining eval/statistics staples):
  *  - q_pr_auc: precision-recall AUC (the imbalanced-class companion to
  *    q_auc's ROC) — the same collapse-then-sweep: facts collapse to the
  *    |distinct scores| grain, the ordered prefix sums run over that
  *    grain only, and the same quantize/range-partition swap applies
  *    when scores are continuous at corpus scale.
  *  - q_mann_whitney: Mann-Whitney U with exact tie handling — the
  *    2·prefix+n+1 integer identity (q_spearman's trick) makes every
  *    rank moment an EXACT integer sum over the value grain; the
  *    tie-corrected normal approximation is closed-form over the 1-row
  *    moment frame.
  */
object MiningOps extends QueryPack {

  private def all = Window.partitionBy()

  private[graft] val KmDims = 64
  private[graft] val KmK = 4

  /** Exact squared-distance between the row's vector and one centroid
    * array: per-dim terms rounded to 6 then summed as exact decimals in
    * a sequential fold — the value is order-independent (exact), so the
    * oracle's any-order SUM over exploded dims matches bit-for-bit. */
  // r20 opt (the q_corr_matrix long-unit discipline): the fold ran one
  // BigDecimal cast + add PER DIMENSION per (vector, centroid) pair — the
  // key's hot path. round(x, 6) lands within ~1e-10 of the exact
  // 6-decimal value k·1e-6, so round(·1e6) recovers the integer k
  // EXACTLY; the fold then sums longs (codegen arithmetic, zero
  // allocation). The distance is only ever COMPARED (argmin + ties) —
  // long ordering of the same exact values is the same ordering, so
  // assignments and all downstream output are unchanged.
  private[ops] def sqDist(vec: Column, carr: Column): Column =
    aggregate(
      zip_with(vec, carr, (a, b) =>
        round(round((a - b) * (a - b), 6) * 1e6).cast("long")),
      lit(0L),
      (acc, x) => acc + x)

  /** One Lloyd assignment pass: nearest centroid id per vector, ties to
    * the smallest cid (cents is sorted by cid; array_position finds the
    * FIRST minimum). Narrow — no shuffle. */
  private def assign(ex: DataFrame, cents: DataFrame): DataFrame =
    ex.crossJoin(broadcast(cents))
      .withColumn("dists", transform(col("cents"),
        c => sqDist(col("vec"), c.getField("carr"))))
      .withColumn("cid",
        element_at(col("cents"),
          array_position(col("dists"), array_min(col("dists"))).cast("int"))
          .getField("cid"))
      .select(col("vec_id"), col("vec"), col("cid"))

  /** Collapse a (cid, carr) centroid frame to the ONE broadcastable row
    * the assignment pass consumes (sorted by cid for tie determinism). */
  private def oneRow(centFrame: DataFrame): DataFrame =
    centFrame.agg(
      array_sort(collect_list(struct(col("cid"), col("carr")))).as("cents"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q_kmeans: Lloyd's k-means over the embedding column ----------
    // k=4 clusters over the full 64-dim embeddings, 2 assignment rounds (init =
    // the vectors of vec_id 0..3 — deterministic, the standard fixed-
    // seed convention). Exactness: distances are round-6 per-dim terms
    // summed as exact decimals (order-free), re-estimated centroids are
    // round-6 doubles from exact decimal sums — both engines compute
    // identical values, and ties break to the smallest centroid id.
    "q_kmeans" -> { (s, d) =>
      // spread the per-vector decimal distance evaluation (shingleHashes
      // r16 discipline — one row group = one scan task otherwise; both
      // assignment rounds re-evaluate off this frame)
      val ex = Tables.embeddings(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"),
          transform(slice(col("embedding"), 1, KmDims),
            v => v.cast("double")).as("vec"))
      val c0 = ex.filter(col("vec_id") < KmK)
        .select(col("vec_id").cast("int").as("cid"),
          transform(col("vec"), v => round(v, 6)).as("carr"))
      // round 1: assign to init centroids, re-estimate
      val a1 = assign(ex, oneRow(c0))
      val grid1 = a1.select(col("cid"), posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg((round(sum(dec10(col("v"))).cast("double") /
          count(lit(1)).cast("double"), 6)).as("c"))
      val c1 = grid1
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          pc => pc.getField("c")).as("carr"))
        // lazy (r20): round 2's broadcast build materializes it
        .localCheckpoint(eager = false)
      // round 2: assign to re-estimated centroids, report the clusters
      val a2 = assign(ex, oneRow(c1))
      a2.select(col("cid").as("cluster"),
          posexplode(col("vec")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(count(lit(1)).as("n"),
          round(sum(dec10(col("v"))).cast("double") /
            count(lit(1)).cast("double"), 4).as("centroid"))
        .orderBy(col("cluster"), col("pos"))
    },

    // ---- q_sssp: weighted shortest paths, 3 relaxation rounds ---------
    // Graph: suppliers co-occurring in an order, edge weight 11−co
    // (clamped to 1 at co≥10) — nearer = more shared orders. Source =
    // supplier 0; 3 Bellman-Ford rounds give exact min-cost within ≤3
    // hops (the bounded-round discipline of q_bfs_hops, with weights).
    "q_sssp" -> { (s, d) =>
      // Edge build: per-order supplier set (ONE fact shuffle, collect_set
      // is partial-aggregable) → in-row pair fan-out (narrow, bounded by
      // order size) → pair-grain count. A distinct + self-join spelling
      // of the same edges costs an extra fact-grain exchange pair for the
      // equi-join — measured slower at sf0.1.
      // r20 opt (VERDICT r19 item 3): the per-round checkpoints are LAZY —
      // an eager checkpoint ran one job per round and the next round's
      // broadcast build ran another; the lazy cut materializes inside that
      // broadcast-build job instead, so each round costs ONE job (nothing
      // is unpersisted here, so deferred materialization is safe). Same
      // lineage truncation, same blocks, half the scheduler round-trips.
      val e = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_suppkey")).as("sups"))
        .select(explode(col("sups")).as("src"), col("sups"))
        .select(col("src"), explode(col("sups")).as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("co"))
        .select(col("src"), col("dst"),
          when(col("co") >= 10, lit(1L))
            .otherwise(lit(11L) - col("co")).as("w"))
        .localCheckpoint(eager = false)
      var dist = s.range(1)
        .select(lit(0L).as("node"), lit(0L).as("dist"))
      for (_ <- 1 to 3) {
        val relaxed = broadcast(dist)
          .join(e, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        dist = dist.union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(eager = false)
      }
      dist.orderBy(col("node"))
    },

    // ---- q_mutual_info: MI between two categoricals -------------------
    // I(returnflag; linestatus) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over
    // the r×c grid — the information-theoretic dependence readout next
    // to q_chi_square's frequentist one. Per-cell terms round-6, total
    // summed as exact decimals.
    "q_mutual_info" -> { (s, d) =>
      val g = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
        .groupBy(col("rf"), col("ls"))
        .agg(count(lit(1)).as("n"))
      val nD = col("n").cast("double")
      val totD = sum(col("n")).over(all).cast("double")
      val pxD = sum(col("n")).over(Window.partitionBy(col("rf"))).cast("double")
      val pyD = sum(col("n")).over(Window.partitionBy(col("ls"))).cast("double")
      g.select(col("rf"), col("ls"), col("n"),
          round((nD / totD) * log((nD * totD) / (pxD * pyD)), 6).as("mi_term"))
        .withColumn("mi_total",
          round(sum(col("mi_term").cast(DecimalType(18, 6))).over(all)
            .cast("double"), 6))
        .orderBy(col("rf"), col("ls"))
    },

    // ---- q_seasonality: day-of-week seasonal index --------------------
    // Facts collapse to the calendar day grain (one agg), dow = epoch
    // days mod 7 (pure arithmetic — no locale, no engine dow-origin
    // mismatch; 0 = Thursday since 1970-01-01 was one), index = dow
    // daily-average revenue over the all-days daily average.
    "q_seasonality" -> { (s, d) =>
      val dayrev = Tables.events(s, d)
        .select(col("ts").cast("date").as("day"), col("value"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"), sum(dec10(col("value"))).as("rev"))
      val byDow = dayrev
        .withColumn("dow",
          (datediff(col("day"), lit("1970-01-01").cast("date")) % 7).cast("int"))
        .groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("n_events")).as("n_events"),
          sum(col("rev")).as("revd"))
      val avgDay = col("revd").cast("double") / col("n_days").cast("double")
      val avgAll = sum(col("revd")).over(all).cast("double") /
        sum(col("n_days")).over(all).cast("double")
      byDow.select(col("dow"), col("n_days"), col("n_events"),
          round(col("revd").cast("double"), 4).as("revenue"),
          round(avgDay, 4).as("avg_day_rev"),
          round(avgDay / avgAll, 6).as("seasonal_index"))
        .orderBy(col("dow"))
    },

    // ---- q_winsorize: winsorized + trimmed robust statistics ----------
    // Exact type-1 p05/p95 order statistics per returnflag via a rank
    // window (k-th smallest = max over rn ≤ k — deterministic under
    // value ties), then the clamped (winsorized) and interior (trimmed)
    // means from exact decimal sums. ONE shuffle by group: the rank, the
    // bound windows, and the final agg all share the rf partitioning.
    "q_winsorize" -> { (s, d) =>
      // r19 opt: the old spelling ran FOUR full-partition window passes
      // (row_number, count-over-group, and two max-when bound scans),
      // each buffering every group's rows in one task. Only the rank is
      // order-dependent: because p is non-decreasing in rn, the k-th
      // smallest (max over rn ≤ k) is exactly the row AT rn = k — so the
      // p05/p95 bounds come off a 2-rows-per-group FILTER of the ranked
      // frame, the group sizes off a max(rn) aggregate, and both ride
      // back as broadcast joins. One window pass survives; values are
      // bit-identical (same rank semantics, same clamp/trim expressions).
      // r20 opt (VERDICT r19 item 2): that surviving window was
      // partitionBy(rf) — 3 groups = 3 serial sort tasks at ANY scale.
      // Two-phase rank in the q_sort_multi discipline: bucket on a
      // DATA-derived price band (floor arithmetic — deterministic, no
      // range-sampler), count bands in one tiny mergeable agg, and the
      // global rank = broadcast per-band prefix offset + row_number
      // within (rf, band) — each sort task now holds one band, not one
      // group. Equal values always share a band (floor is monotone), so
      // the value AT any global rank — all this key consumes — is
      // unchanged. The band-count frame is |groups × bands| rows,
      // checkpointed (two tiny consumers); offsets come from a window
      // OVER THAT FRAME, never over facts, and group sizes fall out of
      // the same counts, dropping the old max(rn) pass.
      // Domain assumption: TPC-H l_extendedprice = l_quantity (1-50) ×
      // p_retailprice (900.00-2098.99), about 900-105 000, so 4096-wide
      // bands give ~26 per flag. Ranks stay exact for any domain (floor is
      // monotone); only the parallelism rests on it — a domain far
      // narrower than the width falls back to one serial sort per group.
      val bandW = 4096.0
      val wRank = Window.partitionBy(col("rf"), col("band"))
        .orderBy(col("pd"))
      val rk = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("rf"),
          dec(col("l_extendedprice")).as("p"),
          col("l_extendedprice").as("pd"))
        .withColumn("band", floor(col("pd") / bandW).cast("long"))
        .withColumn("rnb", row_number().over(wRank))
        .localCheckpoint(eager = false)
      // band sizes = max in-band rank: a tiny mergeable agg over the
      // checkpoint (|groups × bands| rows, read by offsets AND sizes)
      val bandCnts = rk.groupBy(col("rf"), col("band"))
        .agg(max(col("rnb")).cast("long").as("cntb"))
        .localCheckpoint(eager = false)
      val offDf = bandCnts.withColumn("off",
        coalesce(sum(col("cntb")).over(Window.partitionBy(col("rf"))
          .orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("rf"), col("band"), col("off"))
      val r = rk.join(broadcast(offDf), Seq("rf", "band"))
        .withColumn("rn", col("off") + col("rnb").cast("long"))
      val kLoC = ceil(col("n").cast("double") * lit(0.05)).cast("long")
      val kHiC = ceil(col("n").cast("double") * lit(0.95)).cast("long")
      // n stays BIGINT exactly as the old count()-over-group spelling
      // (and the oracle schema) produced it
      val sizes = bandCnts.groupBy(col("rf")).agg(sum(col("cntb")).as("n"))
        .select(col("rf"), col("n"), kLoC.as("kLo"), kHiC.as("kHi"))
      val bounds = r.join(broadcast(sizes), Seq("rf"))
        .filter(col("rn") === col("kLo") || col("rn") === col("kHi"))
        .groupBy(col("rf"))
        .agg(max(when(col("rn") === col("kLo"), col("p"))).as("lo"),
          max(when(col("rn") === col("kHi"), col("p"))).as("hi"))
      r.join(broadcast(sizes), Seq("rf"))
        .join(broadcast(bounds), Seq("rf"))
        .groupBy(col("rf"))
        .agg(max(col("n")).as("n"),
          max(col("lo")).cast("double").as("lo"),
          max(col("hi")).cast("double").as("hi"),
          round(sum(least(greatest(col("p"), col("lo")), col("hi")))
            .cast("double") / max(col("n")).cast("double"), 4).as("wins_mean"),
          round(sum(when(col("rn") > col("kLo") && col("rn") <= col("kHi"),
              col("p"))).cast("double") /
            sum(when(col("rn") > col("kLo") && col("rn") <= col("kHi"), 1L)
              .otherwise(0L)).cast("double"), 4).as("trim_mean"))
        .orderBy(col("rf"))
    },

    // ---- q_schema_profile: per-column data-quality profile ------------
    // The Deequ-style audit row per column: count / null count / exact
    // distinct / min / max (numeric as round-4 doubles, strings as-is).
    // Shape: one independent single-column agg per profiled column,
    // UNION ALL'd — with a columnar store this reads exactly the same
    // bytes as a combined scan, and each subplan keeps the cheap
    // SINGLE-distinct aggregation path (a combined multi-distinct agg
    // plans an Expand that multiplies every row by #distinct-aggs —
    // measured ~3× slower at sf0.1). The 100 TB swap for the distincts
    // is approx_count_distinct (see scaladoc).
    "q_schema_profile" -> { (s, d) =>
      val nullD = lit(null).cast("double")
      val nullS = lit(null).cast("string")
      def nulls(c: String) =
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null")
      def num(c: String) =
        Tables.lineitem(s, d).select(col(c))
          .agg(count(lit(1)).as("n"), nulls(c),
            countDistinct(col(c)).as("n_distinct"),
            round(min(col(c)), 4).as("min_v"),
            round(max(col(c)), 4).as("max_v"))
          .select(lit(c).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_v"), col("max_v"),
            nullS.as("min_s"), nullS.as("max_s"))
      def str(c: String) =
        Tables.lineitem(s, d).select(col(c))
          .agg(count(lit(1)).as("n"), nulls(c),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).as("min_s"), max(col(c)).as("max_s"))
          .select(lit(c).as("col_name"), col("n"), col("n_null"),
            col("n_distinct"), nullD.as("min_v"), nullD.as("max_v"),
            col("min_s"), col("max_s"))
      num("l_quantity")
        .unionAll(num("l_extendedprice"))
        .unionAll(num("l_discount"))
        .unionAll(str("l_returnflag"))
        .orderBy(col("col_name"))
    },

    // ---- q_ngram_coverage: vocabulary coverage / OOV-rate monitor -----
    // The tokenizer-rollout readout: share of the token stream outside
    // the top-20 vocabulary, per language. The vocab is an ordered-limit
    // top-N (count desc, word asc — deterministic under count ties) and
    // rides BROADCAST into the token-grain probe join, which then
    // collapses straight to the |langs| grid.
    "q_ngram_coverage" -> { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      val vocab = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word")).limit(20)
        .select(col("word"), lit(1).as("in_v"))
      val cov = words.join(broadcast(vocab), Seq("word"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("total_tokens"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      val nd = Tables.documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      cov.join(nd, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("total_tokens"),
          col("oov_tokens"),
          round(col("oov_tokens").cast("double") /
            col("total_tokens").cast("double"), 6).as("oov_share"))
        .orderBy(col("lang"))
    },

    // ---- q_forecast_naive: seasonal-naive forecast + MAPE backtest ----
    // The ops-reporting staple: forecast(d) = actual(d−7), per-day APE
    // from exact decimal differences, MAPE over the evaluable days. The
    // self-join runs on the CALENDAR day grain — scale-invariant after
    // the one fact agg.
    "q_forecast_naive" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val f = daily.as("a").join(daily.as("b"),
          col("a.day") === date_add(col("b.day"), 7))
        .select(col("a.day").as("day"), col("a.rev").as("actual"),
          col("b.rev").as("forecast"))
      f.select(col("day"),
          round(col("actual").cast("double"), 4).as("actual"),
          round(col("forecast").cast("double"), 4).as("forecast"),
          round(abs(col("actual") - col("forecast")).cast("double") /
            col("actual").cast("double"), 6).as("ape"))
        .withColumn("mape",
          round(sum(col("ape").cast(DecimalType(18, 6))).over(all)
              .cast("double") /
            count(lit(1)).over(all).cast("double"), 6))
        .orderBy(col("day"))
    },

    // ---- q_effect_size: Cohen's d + Hedges' g between two segments ----
    // The feature-screening companion to q_ab_ttest (magnitude, not
    // significance): urgent vs non-urgent order totals, moments as ONE
    // map-combinable conditional-decimal agg, closed-form d and the
    // small-sample Hedges correction over the 1-row frame.
    "q_effect_size" -> { (s, d) =>
      val a = Tables.orders(s, d)
        .select(when(col("o_orderpriority") === "1-URGENT", 1)
          .otherwise(0).as("g"), col("o_totalprice").as("v"))
        .agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g") === 1, dec(col("v")))).as("s1"),
          sum(when(col("g") === 0, dec(col("v")))).as("s2"),
          sum(when(col("g") === 1,
            (col("v") * col("v")).cast(DecimalType(28, 4)))).as("q1"),
          sum(when(col("g") === 0,
            (col("v") * col("v")).cast(DecimalType(28, 4)))).as("q2"))
      val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
      val m1 = col("s1").cast("double") / n1
      val m2 = col("s2").cast("double") / n2
      val v1 = (col("q1").cast("double") - n1 * m1 * m1) / (n1 - lit(1.0))
      val v2 = (col("q2").cast("double") - n2 * m2 * m2) / (n2 - lit(1.0))
      val pooled = sqrt(((n1 - lit(1.0)) * v1 + (n2 - lit(1.0)) * v2) /
        (n1 + n2 - lit(2.0)))
      val cohenD = (m1 - m2) / pooled
      val hedgesG = cohenD *
        (lit(1.0) - lit(3.0) / (lit(4.0) * (n1 + n2) - lit(9.0)))
      a.select(col("n1"), col("n2"),
        round(m1, 4).as("mean1"), round(m2, 4).as("mean2"),
        round(cohenD, 6).as("cohen_d"), round(hedgesG, 6).as("hedges_g"))
    },

    // ---- q_quantile_bands: weekly P10/P50/P90 monitoring bands --------
    // Exact type-1 weekly quantiles of daily revenue: the per-week rank
    // window orders ≤7 rows per partition (calendar-bounded — the
    // q_winsorize order-statistic trick at a grain where the sort is
    // free at any fact scale).
    "q_quantile_bands" -> { (s, d) =>
      val wWin = Window.partitionBy(col("wk"))
      def kth(q: Double) = max(when(col("rn") <=
        ceil(col("n").cast("double") * lit(q)).cast("long"), col("rev")))
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
        .withColumn("wk", date_trunc("week", col("day")).cast("date"))
        .withColumn("rn", row_number().over(wWin.orderBy(col("rev"))))
        .withColumn("n", count(lit(1)).over(wWin))
        .groupBy(col("wk"))
        .agg(max(col("n")).as("n_days"),
          round(kth(0.1).cast("double"), 4).as("p10"),
          round(kth(0.5).cast("double"), 4).as("p50"),
          round(kth(0.9).cast("double"), 4).as("p90"))
        .orderBy(col("wk"))
    },

    // ---- q_impute: group-median null imputation ------------------------
    // The data-repair staple: deterministic missingness (event_id % 97),
    // exact type-1 median of the group's non-null values via the rank
    // window (nulls sort LAST so ranks 1..n_nn are the non-null prefix),
    // before/after means from exact decimal sums. One event_type shuffle
    // carries the rank, the median lookup, and the final agg.
    // CONTRACT (ADVICE r13): a group with n_nn = 0 (every value masked)
    // has no donor — median_used/mean_before/mean_after are null BY
    // DESIGN (n and n_missing stay exact); same contract in imputeApprox.
    // MiningDefinitionSpec pins it with an all-missing group.
    "q_impute" -> { (s, d) =>
      val wEt = Window.partitionBy(col("event_type"))
      val r = Tables.events(s, d).select(col("event_type"),
        when(col("event_id") % 97 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("v"))
      val m = r
        .withColumn("rn",
          row_number().over(wEt.orderBy(col("v").asc_nulls_last)))
        .withColumn("n_nn", count(col("v")).over(wEt))
        .withColumn("med", max(when(col("v").isNotNull && col("rn") <=
          ceil(col("n_nn").cast("double") * lit(0.5)).cast("long"),
          col("v"))).over(wEt))
      m.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
          round(max(col("med")), 4).as("median_used"),
          round(sum(dec10(col("v"))).cast("double") /
            max(col("n_nn")).cast("double"), 4).as("mean_before"),
          round(sum(dec10(coalesce(col("v"), col("med")))).cast("double") /
            count(lit(1)).cast("double"), 4).as("mean_after"))
        .orderBy(col("event_type"))
    },

    // ---- q_negative_sample: deterministic hash negatives ---------------
    // For each (customer, part) positive, two negatives from the shared
    // md5-prefix digest (no RNG — re-runnable, resume-safe), verified
    // against the user's positive set with a (u, item)-keyed left join.
    // Output = the per-(draw, collision) audit grid with an exact key
    // checksum pinning every sampled id.
    "q_negative_sample" -> { (s, d) =>
      // the positive set is consumed twice (draw side + exclusion side) —
      // materialize it once (it IS the interaction table a real pipeline
      // persists; without this both consumers re-derive the join+distinct)
      val pos = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("it"))
        .distinct()
        // lazy (r20): both consumers sit in the final job; the block-
        // manager write lock still guarantees one materialization
        .localCheckpoint(eager = false)
      val m = Tables.part(s, d).agg(count(lit(1)).as("m"))
      val jf = s.range(1, 3).select(col("id").cast("int").as("j"))
      val cand = pos.crossJoin(broadcast(jf)).crossJoin(broadcast(m))
        .select(col("u"), col("j"),
          (graft.expr.Md5Prefix60.h60(concat(
            col("u").cast("string"), lit(":"),
            col("it").cast("string"), lit(":"),
            col("j").cast("string"))) % col("m")).as("neg"))
      // r19 opt: the exclusion probe is a plain equi-join of two already
      // shuffled fact-grain frames — SHUFFLE_HASH builds the positive side
      // per partition and skips both sort passes a sort-merge join pays
      // (guide §3.1: prefer shuffled-hash when a side fits per-partition;
      // the build side here is the |interactions|/nPartitions slice).
      cand.join(pos.select(col("u"), col("it").as("neg"), lit(1).as("hit"))
          .hint("shuffle_hash"),
          Seq("u", "neg"), "left")
        .groupBy(col("j"),
          when(col("hit").isNotNull, 1).otherwise(0).as("is_collision"))
        .agg(count(lit(1)).as("n"), sum(col("neg")).as("key_checksum"))
        .orderBy(col("j"), col("is_collision"))
    },

    // ---- q_interval_union: overlapping-interval coverage sweep ---------
    // Each order covers [orderdate, orderdate+7); total covered days per
    // market segment via the classic sweep: running max of interval ends
    // → new island when a start clears it → island spans. Everything
    // rides one customer-keyed shuffle; islands are interval-bounded.
    "q_interval_union" -> { (s, d) =>
      val byCust = Window.partitionBy(col("cust"))
        .orderBy(col("st"), col("en"))
      val iv = Tables.orders(s, d).select(col("o_custkey").as("cust"),
          col("o_orderdate").cast("date").as("st"))
        .withColumn("en", date_add(col("st"), 7))
      val isl = iv
        .withColumn("prev_en", max(col("en")).over(
          byCust.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl", sum(when(col("prev_en").isNull ||
            col("st") > col("prev_en"), 1L).otherwise(0L)).over(
          byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val spans = isl.groupBy(col("cust"), col("isl"))
        .agg(count(lit(1)).as("n_iv"),
          datediff(max(col("en")), min(col("st"))).as("cov"))
      spans.join(Tables.customer(s, d),
          col("cust") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(sum(col("n_iv")).as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(col("cov").cast("long")).as("covered_days"))
        .orderBy(col("segment"))
    },

    // ---- q_pr_auc: precision-recall AUC --------------------------------
    // The imbalanced-class companion to q_auc (ROC): same score model as
    // q_calibration (logistic(value), label = purchase), facts collapse
    // to the score grain, then the score-desc sweep accumulates
    // step-interpolated Δrecall·precision terms as round-6 exact
    // decimals.
    "q_pr_auc" -> { (s, d) =>
      val sweep = Window.orderBy(col("p").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val g = Tables.events(s, d)
        .select((lit(1.0) / (lit(1.0) +
            exp(-(col("value") - lit(50.0)) / lit(10.0)))).as("p"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      g.select(col("n"), col("npos"),
          sum(col("n")).over(sweep).as("cum_n"),
          sum(col("npos")).over(sweep).as("cum_pos"),
          sum(col("npos")).over(all).as("pos_tot"))
        .select(col("n"), col("npos"),
          round((col("npos").cast("double") / col("pos_tot").cast("double")) *
            (col("cum_pos").cast("double") / col("cum_n").cast("double")), 6)
            .cast(DecimalType(18, 6)).as("term"),
          col("pos_tot"))
        .agg(sum(col("n")).as("n"), max(col("pos_tot")).as("n_pos"),
          round(sum(col("term")).cast("double"), 4).as("auc_pr"))
    },

    // ---- q_mann_whitney: Mann-Whitney U with exact tie handling --------
    // Nonparametric two-sample test (even vs odd event_ids, the q_psi
    // split): ranks via the 2·prefix+n+1 identity over the value grain —
    // every moment an exact integer sum — then the tie-corrected normal
    // approximation closed-form over the 1-row frame.
    "q_mann_whitney" -> { (s, d) =>
      val prefixW = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val vg = Tables.events(s, d)
        .select(col("value").as("v"),
          when(col("event_id") % 2 === 0, 1L).otherwise(0L).as("g1"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("g1")).as("n1"))
      val m = vg
        .withColumn("prefix", coalesce(sum(col("n")).over(prefixW), lit(0L)))
        .agg(sum(col("n1")).as("n1t"),
          sum(col("n") - col("n1")).as("n2t"),
          sum(col("n1") * (lit(2L) * col("prefix") + col("n") + lit(1L)))
            .as("r1x2"),
          sum(col("n") * col("n") * col("n") - col("n")).as("tie3"))
      val n1d = col("n1t").cast("double"); val n2d = col("n2t").cast("double")
      val nD = n1d + n2d
      val u1 = (col("r1x2").cast("double") - n1d * (n1d + lit(1.0))) / lit(2.0)
      val sigma = sqrt(n1d * n2d / lit(12.0) *
        (nD + lit(1.0) - col("tie3").cast("double") / (nD * (nD - lit(1.0)))))
      // Degenerate pool (every value identical, or an empty group): the
      // tie correction drives sigma to exactly 0 and z = x/0 would emit
      // Infinity/NaN — the normal approximation is undefined there, so
      // z/effect_r are null by contract (ADVICE r13 item 1).
      val z = when(sigma > lit(0.0), (u1 - n1d * n2d / lit(2.0)) / sigma)
      m.select(col("n1t").as("n1"), col("n2t").as("n2"),
        round(u1, 1).as("u1"), round(z, 4).as("z"),
        round(z / sqrt(nD), 6).as("effect_r"))
    }
  )

  // ---- oracles -------------------------------------------------------

  /** Shared text of one k-means (distance, assign, re-estimate) round —
    * dialect-independent, unrolled twice below. */
  private def kmRoundSql(centCte: String, i: Int): String = s"""
      d$i AS (
        SELECT e.vec_id, c.cid,
          sum(CAST(round((e.v - c.c) * (e.v - c.c), 6) AS DECIMAL(28,10))) AS dist
        FROM ex e JOIN $centCte c USING (pos)
        GROUP BY e.vec_id, c.cid),
      a$i AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
          FROM d$i) WHERE rn = 1)"""

  /** Single source for the q_kmeans oracle AND its Spark-dialect twin —
    * only the dim-explosion CTE differs (DuckDB range-table 1-based list
    * index vs Spark posexplode), the two unrolled Lloyd rounds are
    * byte-identical. */
  def kmeansSql(duck: Boolean): String = {
    val ex =
      if (duck) s"""
        SELECT vec_id, CAST(t.r AS INT) AS pos,
               CAST(embedding[CAST(t.r AS INT) + 1] AS DOUBLE) AS v
        FROM embeddings, range($KmDims) t(r)"""
      else s"""
        SELECT vec_id, pos, CAST(v AS DOUBLE) AS v
        FROM embeddings
        LATERAL VIEW posexplode(embedding) t AS pos, v
        WHERE pos < $KmDims"""
    s"""
      WITH ex AS ($ex),
      c0 AS (
        SELECT CAST(vec_id AS INT) AS cid, pos, round(v, 6) AS c
        FROM ex WHERE vec_id < $KmK),
      ${kmRoundSql("c0", 1)},
      c1 AS (
        SELECT a.cid, e.pos,
          round(CAST(sum(CAST(e.v AS DECIMAL(28,10))) AS DOUBLE) /
                CAST(count(*) AS DOUBLE), 6) AS c
        FROM ex e JOIN a1 a USING (vec_id) GROUP BY a.cid, e.pos),
      ${kmRoundSql("c1", 2)}
      SELECT a.cid AS cluster, e.pos, count(*) AS n,
        round(CAST(sum(CAST(e.v AS DECIMAL(28,10))) AS DOUBLE) /
              CAST(count(*) AS DOUBLE), 4) AS centroid
      FROM ex e JOIN a2 a USING (vec_id)
      GROUP BY a.cid, e.pos ORDER BY cluster, pos"""
  }

  /** Single source for the q_ngram_coverage oracle AND its Spark twin —
    * only the word-explosion idiom differs. */
  def ngramCoverageSql(duck: Boolean): String = {
    val w =
      if (duck) "SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents"
      else "SELECT lang, explode(split(text, ' ')) AS word FROM documents"
    s"""
      WITH w AS ($w),
      v AS (
        SELECT word FROM (
          SELECT word, count(*) AS c FROM w GROUP BY word
          ORDER BY c DESC, word LIMIT 20)),
      cov AS (
        SELECT w.lang, count(*) AS total_tokens,
          CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS oov_tokens
        FROM w LEFT JOIN v ON w.word = v.word GROUP BY w.lang),
      nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
      SELECT cov.lang, nd.n_docs, cov.total_tokens, cov.oov_tokens,
        round(CAST(cov.oov_tokens AS DOUBLE) /
              CAST(cov.total_tokens AS DOUBLE), 6) AS oov_share
      FROM cov JOIN nd ON cov.lang = nd.lang ORDER BY cov.lang"""
  }

  /** Single source for the q_forecast_naive oracle AND its Spark twin —
    * only the 7-days-ago join condition differs (DuckDB date+int vs
    * Spark date_add). */
  def forecastNaiveSql(duck: Boolean): String = {
    val cond = if (duck) "a.day = b.day + 7" else "a.day = date_add(b.day, 7)"
    s"""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      f AS (
        SELECT a.day, a.rev AS actual, b.rev AS forecast
        FROM daily a JOIN daily b ON $cond),
      t AS (
        SELECT day,
          round(CAST(actual AS DOUBLE), 4) AS actual,
          round(CAST(forecast AS DOUBLE), 4) AS forecast,
          round(CAST(abs(actual - forecast) AS DOUBLE) /
                CAST(actual AS DOUBLE), 6) AS ape
        FROM f)
      SELECT day, actual, forecast, ape,
        round(CAST(sum(CAST(ape AS DECIMAL(18,6))) OVER () AS DOUBLE) /
              CAST(count(*) OVER () AS DOUBLE), 6) AS mape
      FROM t ORDER BY day"""
  }

  /** The IMPLEMENTED corpus-scale swap for q_winsorize (SCALE.md): the
    * exact per-group rank window becomes one map-combinable
    * `approx_percentile` sketch agg — no per-group sort at any scale —
    * and the clamp/trim arithmetic is unchanged. Same output schema as
    * the key; MiningOpsSpec pins it within sketch tolerance of the exact
    * form (the q_rfm `rollingDistinctViaDeltas` discipline: the swap is
    * code, not a comment). */
  def winsorizeApprox(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{percentile_approx => pap}
    val b = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("pd"))
      .groupBy(col("rf"))
      .agg(count(lit(1)).as("n"),
        pap(col("pd"), lit(0.05), lit(100000)).as("lo"),
        pap(col("pd"), lit(0.95), lit(100000)).as("hi"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("rf"), dec(col("l_extendedprice")).as("p"))
      .join(broadcast(b), Seq("rf"))
      .groupBy(col("rf"))
      .agg(max(col("n")).as("n"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"),
        round(sum(least(greatest(col("p").cast("double"), col("lo")),
          col("hi")).cast(DecimalType(28, 10))).cast("double") /
          max(col("n")).cast("double"), 4).as("wins_mean"),
        round(sum(when(col("p") > col("lo") && col("p") <= col("hi"),
            col("p"))).cast("double") /
          sum(when(col("p") > col("lo") && col("p") <= col("hi"), 1L)
            .otherwise(0L)).cast("double"), 4).as("trim_mean"))
      .orderBy(col("rf"))
  }

  /** The IMPLEMENTED corpus-scale swap for q_impute: group medians from
    * one `approx_percentile` sketch agg broadcast back onto the stream —
    * no rank window, so a 6-value group column no longer serializes the
    * sort onto 6 reducers. Same output schema as the key. */
  def imputeApprox(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{percentile_approx => pap}
    val r = Tables.events(s, d).select(col("event_type"),
      when(col("event_id") % 97 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"))
    val med = r.groupBy(col("event_type"))
      .agg(pap(col("v"), lit(0.5), lit(100000)).as("med"),
        count(col("v")).as("n_nn"))
    r.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
        round(max(col("med")), 4).as("median_used"),
        round(sum(dec10(col("v"))).cast("double") /
          max(col("n_nn")).cast("double"), 4).as("mean_before"),
        round(sum(dec10(coalesce(col("v"), col("med")))).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** The IMPLEMENTED corpus-scale swap for q_pr_auc (SCALE.md q_pr_auc
    * row; exact form: the collapse-then-sweep at MiningOps "q_pr_auc"
    * above). The logistic score lives in (0,1) by construction, so the
    * quantized domain is exactly `nBuckets` cells regardless of corpus
    * size: one fact-sized hash agg collapses to the bucket grain, the
    * bounded frame rides to the driver (q_sort_multi offsets
    * discipline), the score-DESC inclusive prefix is a plain driver
    * scan, and the step-interpolated Δrecall·precision terms aggregate
    * over the enriched LocalRelation — no Window, no Sort, no shuffle
    * past the collapse. */
  def prAucApprox(s: SparkSession, d: String,
                  nBuckets: Int = 4096): DataFrame = {
    import s.implicits._
    val buckets = Tables.events(s, d)
      .select((lit(1.0) / (lit(1.0) +
          exp(-(col("value") - lit(50.0)) / lit(10.0)))).as("p"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .select(least(floor(col("p") * nBuckets), lit(nBuckets - 1L))
        .cast("long").as("b"), col("y"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      .collect()
      .sortBy(-_.getLong(0)) // the sweep walks scores descending
    val posTot = buckets.map(_.getAs[Long]("npos")).sum
    var cumN = 0L
    var cumPos = 0L
    val enriched = buckets.map { r =>
      cumN += r.getAs[Long]("n")
      cumPos += r.getAs[Long]("npos")
      (r.getAs[Long]("n"), r.getAs[Long]("npos"), cumN, cumPos)
    }.toSeq
    enriched.toDF("n", "npos", "cum_n", "cum_pos")
      .select(col("n"),
        round((col("npos").cast("double") / lit(posTot).cast("double")) *
          (col("cum_pos").cast("double") / col("cum_n").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("term"))
      .agg(sum(col("n")).as("n"), max(lit(posTot)).as("n_pos"),
        round(sum(col("term")).cast("double"), 4).as("auc_pr"))
  }

  /** Single source for the q_negative_sample oracle AND its Spark twin —
    * only the 60-bit digest idiom differs (DuckDB hex-prefix cast vs the
    * registered md5_prefix60 extension function). */
  def negativeSampleSql(duck: Boolean): String = {
    val key = "CAST(u AS STRING) || ':' || CAST(it AS STRING) || " +
      "':' || CAST(j AS STRING)"
    val digest =
      if (duck) PipelineOps.h60Sql(key) else s"md5_prefix60($key)"
    s"""
      WITH pos AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS it
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      m AS (SELECT count(*) AS m FROM part),
      jf AS (SELECT 1 AS j UNION ALL SELECT 2),
      cand AS (
        SELECT u, j, ($digest) % m.m AS neg
        FROM pos, jf, m),
      lj AS (
        SELECT c.j, c.neg,
          CASE WHEN p2.it IS NULL THEN 0 ELSE 1 END AS is_collision
        FROM cand c LEFT JOIN pos p2 ON c.u = p2.u AND c.neg = p2.it)
      SELECT j, is_collision, count(*) AS n,
        CAST(sum(neg) AS BIGINT) AS key_checksum
      FROM lj GROUP BY j, is_collision ORDER BY j, is_collision"""
  }

  /** Single source for the q_interval_union oracle AND its Spark twin —
    * only the date+int arithmetic differs. */
  def intervalUnionSql(duck: Boolean): String = {
    val en = if (duck) "CAST(o_orderdate AS DATE) + 7"
             else "date_add(CAST(o_orderdate AS DATE), 7)"
    val cov = if (duck) "max(en) - min(st)" else "datediff(max(en), min(st))"
    s"""
      WITH iv AS (
        SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS st,
               $en AS en
        FROM orders),
      w AS (
        SELECT cust, st, en,
          max(en) OVER (PARTITION BY cust ORDER BY st, en
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_en
        FROM iv),
      marked AS (
        SELECT cust, st, en,
          sum(CASE WHEN prev_en IS NULL OR st > prev_en THEN 1 ELSE 0 END)
            OVER (PARTITION BY cust ORDER BY st, en
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        FROM w),
      spans AS (
        SELECT cust, isl, count(*) AS n_iv, $cov AS cov
        FROM marked GROUP BY cust, isl)
      SELECT c_mktsegment AS segment,
        CAST(sum(n_iv) AS BIGINT) AS n_intervals,
        count(*) AS n_islands,
        CAST(sum(cov) AS BIGINT) AS covered_days
      FROM spans JOIN customer ON cust = c_custkey
      GROUP BY c_mktsegment ORDER BY segment"""
  }

  def oracles: Map[String, String] = Map(

    "q_kmeans" -> kmeansSql(duck = true),

    "q_negative_sample" -> negativeSampleSql(duck = true),

    "q_interval_union" -> intervalUnionSql(duck = true),

    "q_pr_auc" -> """
      WITH g AS (
        SELECT 1.0 / (1.0 + exp(-(value - 50.0) / 10.0)) AS p,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events),
      sg AS (
        SELECT p, count(*) AS n, CAST(sum(y) AS BIGINT) AS npos
        FROM g GROUP BY p),
      sw AS (
        SELECT n, npos,
          sum(n) OVER (ORDER BY p DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_n,
          sum(npos) OVER (ORDER BY p DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum_pos,
          sum(npos) OVER () AS pos_tot
        FROM sg)
      SELECT CAST(sum(n) AS BIGINT) AS n,
        CAST(max(pos_tot) AS BIGINT) AS n_pos,
        round(CAST(sum(CAST(round(
          (CAST(npos AS DOUBLE) / CAST(pos_tot AS DOUBLE)) *
          (CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE)), 6)
          AS DECIMAL(18,6))) AS DOUBLE), 4) AS auc_pr
      FROM sw""",

    "q_mann_whitney" -> """
      WITH r AS (
        SELECT value AS v,
          CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS g1
        FROM events),
      vg AS (
        SELECT v, count(*) AS n, CAST(sum(g1) AS BIGINT) AS n1
        FROM r GROUP BY v),
      sw AS (
        SELECT v, n, n1,
          coalesce(sum(n) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        FROM vg),
      m AS (
        SELECT CAST(sum(n1) AS BIGINT) AS n1t,
          CAST(sum(n - n1) AS BIGINT) AS n2t,
          CAST(sum(n1 * (2 * prefix + n + 1)) AS BIGINT) AS r1x2,
          CAST(sum(n * n * n - n) AS BIGINT) AS tie3
        FROM sw),
      f AS (
        SELECT n1t, n2t,
          (CAST(r1x2 AS DOUBLE) -
           CAST(n1t AS DOUBLE) * (CAST(n1t AS DOUBLE) + 1.0)) / 2.0 AS u1,
          sqrt(CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 12.0 *
            (CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE) + 1.0 -
             CAST(tie3 AS DOUBLE) /
             ((CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE)) *
              (CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE) - 1.0)))) AS sigma
        FROM m)
      SELECT n1t AS n1, n2t AS n2, round(u1, 1) AS u1,
        CASE WHEN sigma > 0 THEN round(
          (u1 - CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 2.0) / sigma, 4)
        END AS z,
        CASE WHEN sigma > 0 THEN round(
          ((u1 - CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 2.0) / sigma) /
          sqrt(CAST(n1t AS DOUBLE) + CAST(n2t AS DOUBLE)), 6)
        END AS effect_r
      FROM f""",

    "q_impute" -> """
      WITH r AS (
        SELECT event_type,
          CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS v
        FROM events),
      w AS (
        SELECT event_type, v,
          row_number() OVER (PARTITION BY event_type
                             ORDER BY v ASC NULLS LAST) AS rn,
          count(v) OVER (PARTITION BY event_type) AS n_nn
        FROM r),
      m AS (
        SELECT event_type, v, n_nn,
          max(CASE WHEN v IS NOT NULL AND rn <=
                CAST(ceil(CAST(n_nn AS DOUBLE) * 0.5) AS BIGINT)
              THEN v END) OVER (PARTITION BY event_type) AS med
        FROM w)
      SELECT event_type, count(*) AS n,
        CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_missing,
        round(max(med), 4) AS median_used,
        round(CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) /
              CAST(max(n_nn) AS DOUBLE), 4) AS mean_before,
        round(CAST(sum(CAST(coalesce(v, med) AS DECIMAL(28,10))) AS DOUBLE) /
              CAST(count(*) AS DOUBLE), 4) AS mean_after
      FROM m GROUP BY event_type ORDER BY event_type""",

    "q_ngram_coverage" -> ngramCoverageSql(duck = true),

    "q_forecast_naive" -> forecastNaiveSql(duck = true),

    "q_effect_size" -> """
      WITH m AS (
        SELECT
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n1,
          CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
            AS BIGINT) AS n2,
          sum(CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s1,
          sum(CASE WHEN o_orderpriority <> '1-URGENT'
              THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS s2,
          sum(CASE WHEN o_orderpriority = '1-URGENT'
              THEN CAST(o_totalprice * o_totalprice AS DECIMAL(28,4)) END)
            AS q1,
          sum(CASE WHEN o_orderpriority <> '1-URGENT'
              THEN CAST(o_totalprice * o_totalprice AS DECIMAL(28,4)) END)
            AS q2
        FROM orders),
      e AS (
        SELECT n1, n2,
          CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
          CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
          (CAST(q1 AS DOUBLE) - CAST(n1 AS DOUBLE) *
            (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) *
            (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))) /
            (CAST(n1 AS DOUBLE) - 1.0) AS v1,
          (CAST(q2 AS DOUBLE) - CAST(n2 AS DOUBLE) *
            (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) *
            (CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
            (CAST(n2 AS DOUBLE) - 1.0) AS v2
        FROM m)
      SELECT n1, n2, round(m1, 4) AS mean1, round(m2, 4) AS mean2,
        round((m1 - m2) /
          sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1 +
                (CAST(n2 AS DOUBLE) - 1.0) * v2) /
               (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)), 6)
          AS cohen_d,
        round(((m1 - m2) /
          sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1 +
                (CAST(n2 AS DOUBLE) - 1.0) * v2) /
               (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))) *
          (1.0 - 3.0 / (4.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
            - 9.0)), 6) AS hedges_g
      FROM e""",

    "q_quantile_bands" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      r AS (
        SELECT CAST(date_trunc('week', day) AS DATE) AS wk, rev,
          row_number() OVER (PARTITION BY CAST(date_trunc('week', day) AS DATE)
                             ORDER BY rev) AS rn,
          count(*) OVER (PARTITION BY CAST(date_trunc('week', day) AS DATE))
            AS n
        FROM daily)
      SELECT wk, max(n) AS n_days,
        round(CAST(max(CASE WHEN rn <=
          CAST(ceil(CAST(n AS DOUBLE) * 0.1) AS BIGINT) THEN rev END)
          AS DOUBLE), 4) AS p10,
        round(CAST(max(CASE WHEN rn <=
          CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT) THEN rev END)
          AS DOUBLE), 4) AS p50,
        round(CAST(max(CASE WHEN rn <=
          CAST(ceil(CAST(n AS DOUBLE) * 0.9) AS BIGINT) THEN rev END)
          AS DOUBLE), 4) AS p90
      FROM r GROUP BY wk ORDER BY wk""",

    "q_sssp" -> """
      WITH pairs AS (
        SELECT DISTINCT l_orderkey AS o, l_suppkey AS sup FROM lineitem),
      e AS (
        SELECT a.sup AS src, b.sup AS dst,
          CASE WHEN count(*) >= 10 THEN CAST(1 AS BIGINT)
               ELSE CAST(11 AS BIGINT) - count(*) END AS w
        FROM pairs a JOIN pairs b ON a.o = b.o AND a.sup <> b.sup
        GROUP BY a.sup, b.sup),
      d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
      d1 AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM d0
          UNION ALL
          SELECT e.dst AS node, d0.dist + e.w AS dist
          FROM d0 JOIN e ON d0.node = e.src) GROUP BY node),
      d2 AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM d1
          UNION ALL
          SELECT e.dst AS node, d1.dist + e.w AS dist
          FROM d1 JOIN e ON d1.node = e.src) GROUP BY node),
      d3 AS (
        SELECT node, min(dist) AS dist FROM (
          SELECT node, dist FROM d2
          UNION ALL
          SELECT e.dst AS node, d2.dist + e.w AS dist
          FROM d2 JOIN e ON d2.node = e.src) GROUP BY node)
      SELECT node, dist FROM d3 ORDER BY node""",

    "q_mutual_info" -> """
      WITH g AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n
        FROM lineitem GROUP BY 1, 2),
      t AS (
        SELECT rf, ls, n,
          round((CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)) *
            ln((CAST(n AS DOUBLE) * CAST(sum(n) OVER () AS DOUBLE)) /
               (CAST(sum(n) OVER (PARTITION BY rf) AS DOUBLE) *
                CAST(sum(n) OVER (PARTITION BY ls) AS DOUBLE))), 6) AS mi_term
        FROM g)
      SELECT rf, ls, n, mi_term,
        round(CAST(sum(CAST(mi_term AS DECIMAL(18,6))) OVER () AS DOUBLE), 6)
          AS mi_total
      FROM t ORDER BY rf, ls""",

    "q_seasonality" -> """
      WITH dayrev AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
               sum(CAST(value AS DECIMAL(28,10))) AS rev
        FROM events GROUP BY 1),
      bydow AS (
        SELECT datediff('day', DATE '1970-01-01', day) % 7 AS dow,
               count(*) AS n_days,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               sum(rev) AS revd
        FROM dayrev GROUP BY 1)
      SELECT CAST(dow AS INT) AS dow, n_days, n_events,
        round(CAST(revd AS DOUBLE), 4) AS revenue,
        round(CAST(revd AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS avg_day_rev,
        round((CAST(revd AS DOUBLE) / CAST(n_days AS DOUBLE)) /
              (CAST(sum(revd) OVER () AS DOUBLE) /
               CAST(sum(n_days) OVER () AS DOUBLE)), 6) AS seasonal_index
      FROM bydow ORDER BY dow""",

    "q_winsorize" -> """
      WITH r AS (
        SELECT l_returnflag AS rf,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
          row_number() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice) AS rn,
          count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
      r2 AS (
        SELECT rf, p, rn, n,
          max(CASE WHEN rn <= CAST(ceil(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
                   THEN p END) OVER (PARTITION BY rf) AS lo,
          max(CASE WHEN rn <= CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT)
                   THEN p END) OVER (PARTITION BY rf) AS hi
        FROM r)
      SELECT rf, max(n) AS n,
        CAST(max(lo) AS DOUBLE) AS lo, CAST(max(hi) AS DOUBLE) AS hi,
        round(CAST(sum(least(greatest(p, lo), hi)) AS DOUBLE) /
              CAST(max(n) AS DOUBLE), 4) AS wins_mean,
        round(CAST(sum(CASE WHEN rn > CAST(ceil(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
                         AND rn <= CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT)
                        THEN p END) AS DOUBLE) /
              CAST(sum(CASE WHEN rn > CAST(ceil(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
                         AND rn <= CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT)
                        THEN 1 ELSE 0 END) AS DOUBLE), 4) AS trim_mean
      FROM r2 GROUP BY rf ORDER BY rf""",

    "q_schema_profile" -> """
      SELECT * FROM (
        SELECT 'l_quantity' AS col_name, count(*) AS n,
          CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_null,
          count(DISTINCT l_quantity) AS n_distinct,
          round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
          CAST(NULL AS STRING) AS min_s, CAST(NULL AS STRING) AS max_s
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*),
          CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT l_extendedprice),
          round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
          CAST(NULL AS STRING), CAST(NULL AS STRING)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*),
          CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT l_discount),
          round(min(l_discount), 4), round(max(l_discount), 4),
          CAST(NULL AS STRING), CAST(NULL AS STRING)
        FROM lineitem
        UNION ALL
        SELECT 'l_returnflag', count(*),
          CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
          count(DISTINCT l_returnflag),
          CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          min(l_returnflag), max(l_returnflag)
        FROM lineitem)
      ORDER BY col_name"""
  )
}
