package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.B "Aggregation": hash agg, distinct agg, sketches,
  * rollup/cube/grouping-sets, ordered collect. All built-in Catalyst —
  * partial (map-side) aggregation + final HashAggregateExec, no custom code.
  * Sums go through DECIMAL(18,2) so the DuckDB oracle hash-matches at any
  * parallelism (double addition order is not associative; decimal is exact).
  */
object Aggregates extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Ungrouped sum/avg/min/max/count — TPC-H Q6-style revenue.
    "q_agg_global" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.filter(
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.08) && col("l_quantity") < 24)
        .agg(
          outd(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
          outd(min(col("l_extendedprice"))).as("min_price"),
          outd(max(col("l_extendedprice"))).as("max_price"),
          round(sum(dec(col("l_quantity"))).cast("double") / count(lit(1)), 4).as("avg_qty"),
          count(lit(1)).as("n"))
    },

    // TPC-H Q1: multi-measure hash agg by (returnflag, linestatus).
    // r20 opt (guide §1.2 per-task work / §2.3 narrower types — the
    // q_corr_matrix long-chunk rewrite, see its comment in Analytics):
    // every decimal product (disc_price, charge) ran through Java
    // BigDecimal per row and every byte-backed sum buffer update
    // allocated — all measures have ≤ 2 decimal digits, so the moments
    // are exact integers in cent/1e-4/1e-6 units: multiply as LONGS,
    // chunk base-2^20, sum longs (mutable tungsten words, zero
    // allocation), reassemble the exact decimals at the 6-row group
    // grain. Values are bit-identical; chunk sums stay exact to ~9e12
    // rows per group.
    "q_agg_groupby" -> { (s, d) =>
      val B = 1L << 20
      val mask = B - 1
      def lo(c: Column) = c.bitwiseAND(lit(mask))
      def mid(c: Column) = shiftright(c, 20).bitwiseAND(lit(mask))
      val qc = round(col("l_quantity") * 100).cast("long")      // <= 5e3
      val pc = round(col("l_extendedprice") * 100).cast("long") // <= 1.05e7
      val dc = round(col("l_discount") * 100).cast("long")      // <= 10
      val tc = round(col("l_tax") * 100).cast("long")           // <= 8
      val disc = pc * (lit(100L) - dc)          // <= 1.05e9, units 1e-4
      val chg = pc * (lit(100L) - dc) * (lit(100L) + tc) // <= 1.14e11, 1e-6
      val g = Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          qc.as("qc"), pc.as("pc"), dc.as("dc"),
          lo(disc).as("dp0"), mid(disc).as("dp1"),
          lo(chg).as("ch0"), mid(chg).as("ch1"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qc")).as("sq0"),
          sum(lo(col("pc"))).as("sp0"), sum(mid(col("pc"))).as("sp1"),
          sum(col("dc")).as("sd0"),
          sum(col("dp0")).as("sdp0"), sum(col("dp1")).as("sdp1"),
          sum(col("ch0")).as("sch0"), sum(col("ch1")).as("sch1"),
          count(lit(1)).as("cnt"))
      def de(c: Column) = c.cast(DecimalType(38, 0))
      val sumQty = de(col("sq0")) / 100
      val sumPrice = (de(col("sp1")) * B + de(col("sp0"))) / 100
      val sumDisc = de(col("sd0")) / 100
      g.select(col("l_returnflag"), col("l_linestatus"),
          outd(sumQty).as("sum_qty"),
          outd(sumPrice).as("sum_base_price"),
          outd((de(col("sdp1")) * B + de(col("sdp0"))) / 10000)
            .as("sum_disc_price"),
          outd((de(col("sch1")) * B + de(col("sch0"))) / 1000000)
            .as("sum_charge"),
          round(sumQty.cast("double") / col("cnt"), 4).as("avg_qty"),
          round(sumPrice.cast("double") / col("cnt"), 4).as("avg_price"),
          round(sumDisc.cast("double") / col("cnt"), 4).as("avg_disc"),
          col("cnt").as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // count(DISTINCT)/sum(DISTINCT): Expand + two-phase agg under the hood.
    "q_agg_distinct" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          outd(sum_distinct(dec(col("l_quantity")))).as("sum_dist_qty"))
        .orderBy(col("l_returnflag"))
    },

    // HLL++ sketch — no-oracle (asserted within rsd of exact in scalatest).
    "q_agg_approx_distinct" -> { (s, d) =>
      val ev = Tables.events(s, d)
      ev.groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
             count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // ROLLUP with grouping() flags.
    // r20 opt: the rollup Expand triples every row, so the decimal sum
    // buffer paid its byte-backed update 3× per input row — same
    // long-chunk rewrite as q_agg_groupby (price in cents, base-2^20
    // chunks, long sums, exact reassembly at the 10-row output grain).
    "q_rollup" -> { (s, d) =>
      val B = 1L << 20
      val pc = round(col("l_extendedprice") * 100).cast("long")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          pc.bitwiseAND(lit(B - 1)).as("pc0"),
          shiftright(pc, 20).as("pc1"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             outd((sum(col("pc1")).cast(DecimalType(38, 0)) * B +
                   sum(col("pc0")).cast(DecimalType(38, 0))) / 100)
               .as("sum_price"),
             grouping(col("l_returnflag")).as("g_rf"),
             grouping(col("l_linestatus")).as("g_ls"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // CUBE over customer segment × nation.
    "q_cube" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .cube(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
             outd(sum(dec(col("c_acctbal")))).as("sum_bal"))
        .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("n_name"))
    },

    // Explicit GROUPING SETS via the Dataset API (Spark 4 groupingSets —
    // same Catalyst ExpandExec path, no temp-view side effects).
    "q_grouping_sets" -> { (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
              Seq(col("o_orderstatus"), col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             outd(sum(dec(col("o_totalprice")))).as("sum_total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    },

    // Ordered collect: sorted distinct nation keys per segment, joined.
    "q_agg_collect" -> { (s, d) =>
      val c = Tables.customer(s, d)
      c.groupBy(col("c_mktsegment"))
        .agg(concat_ws(",",
               array_sort(collect_set(col("c_nationkey"))).cast("array<string>"))
             .as("nations"),
             count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },

    // Exact percentiles (linear interpolation — Spark `percentile` and
    // DuckDB `quantile_cont` agree bit-for-bit on doubles after round 4).
    // The exact form sorts per group; at 100 TB switch to
    // approx_percentile (t-digest, one pass, mergeable) when a bounded
    // error is acceptable — kept exact here for the oracle.
    "q_agg_percentiles" -> { (s, d) =>
      // r19 opt: the buffering `percentile` aggregate holds a per-group
      // value→count map, serializes it between the partial and final
      // phases, and sorts it single-threaded in the final — at any scale
      // the group's whole column lives in one aggregation buffer (the
      // OOM class the guide's §5 warns about). The rank spelling computes
      // the SAME exact interpolated percentiles from a spillable tungsten
      // sort: rank rows once per group, then each percentile is the
      // closed-form blend of the two rows at floor/ceil of
      // p·(n−1) — Spark's own Percentile.getPercentile arithmetic
      // ((hi−pos)·vlo + (pos−lo)·vhi on the identical doubles), so values
      // are bit-identical before the round. The bound rows come off a
      // 9-row broadcast of (group, rank) targets — no buffered map, no
      // TypedImperative serialization, graceful spill at 100 TB.
      // r20 opt (VERDICT r19 item 2): the r19 rank window was
      // partitionBy(l_returnflag) — 3 groups = 3 serial sort tasks at any
      // scale. Two-phase rank (q_sort_multi discipline, same shape as
      // q_winsorize): deterministic floor-derived price bands, one tiny
      // band-count agg (checkpointed — offsets and sizes both read it),
      // prefix offsets from a window over THAT frame, and the global rank
      // = broadcast offset + row_number within (group, band). Equal
      // values share a band (floor is monotone), so the row AT any rank —
      // all the interpolation consumes — is unchanged. Group sizes fall
      // out of the same counts, dropping the old max(rn) pass. The ranked
      // frame `rk` keeps its lazy checkpoint: two consumers read it (the
      // band counts and the offset join), so the cut is load-bearing.
      // Domain assumption: TPC-H l_extendedprice = l_quantity (1-50) ×
      // p_retailprice (900.00-2098.99), about 900-105 000, so 4096-wide
      // bands give ~26 per flag. Ranks stay exact for any domain (floor is
      // monotone); only the parallelism rests on it — a domain far
      // narrower than the width falls back to one serial sort per group.
      val bandW = 4096.0
      val wRank = Window.partitionBy(col("l_returnflag"), col("band"))
        .orderBy(col("l_extendedprice"))
      val rk = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
        .withColumn("band",
          floor(col("l_extendedprice") / bandW).cast("long"))
        .withColumn("rnb", row_number().over(wRank))
        .localCheckpoint(eager = false)
      // band sizes = max in-band rank: a tiny mergeable agg over the
      // checkpoint (|groups × bands| rows, read by offsets AND sizes)
      val bandCnts = rk.groupBy(col("l_returnflag"), col("band"))
        .agg(max(col("rnb")).cast("long").as("cntb"))
        .localCheckpoint(eager = false)
      val offDf = bandCnts.withColumn("off",
        coalesce(sum(col("cntb")).over(Window.partitionBy(col("l_returnflag"))
          .orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("l_returnflag"), col("band"), col("off"))
      val r = rk.join(broadcast(offDf), Seq("l_returnflag", "band"))
        .withColumn("rn", col("off") + col("rnb").cast("long"))
      val sizes = bandCnts.groupBy(col("l_returnflag"))
        .agg(sum(col("cntb")).as("n"))
      val targets = sizes.select(col("l_returnflag").as("rf"), col("n"),
          explode(array(Seq(0.5, 0.9, 0.99).map(lit): _*)).as("p"))
        .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
        .withColumn("lo_rn", floor(col("pos")) + 1)
        .withColumn("hi_rn", ceil(col("pos")) + 1)
      val hits = r.join(broadcast(targets),
          col("l_returnflag") === col("rf") &&
            (col("rn") === col("lo_rn") || col("rn") === col("hi_rn")))
        .groupBy(col("rf"), col("p"))
        .agg(
          max(col("pos")).as("pos"),
          max(col("lo_rn")).as("lo_rn"), max(col("hi_rn")).as("hi_rn"),
          max(when(col("rn") === col("lo_rn"), col("l_extendedprice")))
            .as("vlo"),
          max(when(col("rn") === col("hi_rn"), col("l_extendedprice")))
            .as("vhi"))
        .select(col("rf"), col("p"),
          when(col("lo_rn") === col("hi_rn"), col("vlo"))
            .otherwise(
              (col("hi_rn") - 1 - col("pos")) * col("vlo") +
              (col("pos") - (col("lo_rn") - 1)) * col("vhi")).as("v"))
      hits.groupBy(col("rf").as("l_returnflag"))
        .agg(round(max(when(col("p") === 0.5, col("v"))), 4).as("p50"),
             round(max(when(col("p") === 0.9, col("v"))), 4).as("p90"),
             round(max(when(col("p") === 0.99, col("v"))), 4).as("p99"))
        .join(sizes, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("p50"), col("p90"), col("p99"),
                col("n"))
        .orderBy(col("l_returnflag"))
    },

    // Statistical aggregates: all single-pass mergeable moments
    // (Welford-style partial+merge), so they scale like any hash agg;
    // round(_,4) absorbs the ulp-level merge-order sensitivity.
    "q_agg_stats" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
             round(var_samp(col("l_quantity")), 4).as("var_qty"),
             round(corr(col("l_extendedprice"), col("l_quantity")), 4)
               .as("corr_pq"),
             round(covar_samp(col("l_extendedprice"), col("l_discount")), 4)
               .as("cov_pd"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // Pivot: order counts per status spread across priority columns —
    // compiles to ONE conditional aggregation pass (no per-column scans),
    // exactly the FILTER-aggregation form the oracle uses.
    "q_pivot" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot(col("o_orderpriority"),
               Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderstatus"),
                col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
                col("3-MEDIUM").as("medium"),
                col("4-NOT SPECIFIED").as("unspecified"),
                col("5-LOW").as("low"))
        .orderBy(col("o_orderstatus"))
    },

    // Unpivot (melt) — the inverse of q_pivot: three measure columns fold
    // into (measure, value) rows. Compiles to ONE Expand over a single
    // scan (narrow, no shuffle before the output sort) — the 100 TB cost
    // is exactly one pass over the table with 3x row amplification.
    // r20 MEASURED NEGATIVE (VERDICT r19 item 1 attempted and reverted):
    // a lazy localCheckpoint of the unpivoted frame before the orderBy —
    // to stop the RangePartitioner's sampling pass re-running scan+Expand
    // — A/B'd 1.48 → 2.15 s at sf0.1: materializing the 3×-amplified
    // frame costs more than recomputing one narrow columnar scan+Expand,
    // and the same holds at scale (the recompute is the cheapest pass in
    // the plan; the checkpoint is a fact-sized block write). The r19
    // driver reading of 3.27 s / 0.39 inverse-scaling did not reproduce
    // on a quiet host (1.44 s at 32 cores, steal-clean) — the gap was
    // measurement noise, not a plan defect. Kept as the r18 shape.
    "q_unpivot" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity").as("quantity"),
                col("l_extendedprice").as("price"),
                col("l_discount").as("discount"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
                 Array(col("quantity"), col("price"), col("discount")),
                 "measure", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"),
                 col("value"))
    },

    // FILTER-clause aggregation: per-group aggregates over DIFFERENT
    // predicates in one pass (the idiom pivot desugars to, exposed
    // directly). One hash agg, conditional accumulation — never N
    // filtered scans.
    "q_agg_filtered" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_all"),
          count(when(col("o_totalprice") > 100000, 1)).as("n_big"),
          outd(sum(when(col("o_orderpriority") === "1-URGENT",
            dec(col("o_totalprice"))))).as("urgent_total"),
          outd(sum(when(col("o_orderdate") >=
              lit("1996-01-01").cast("timestamp"),
            dec(col("o_totalprice"))))).as("recent_total"))
        .orderBy(col("o_orderstatus"))
    },

    // Median + deterministic mode per group. Spark's built-in mode() is
    // explicitly non-deterministic on ties, so the mode here is the
    // pinned-tiebreak form (highest count, then smallest value) computed
    // as a groupBy + windowed argmax — the same plan both engines run.
    // Median interpolates (quantile_cont semantics in both engines);
    // quantities are integral doubles so the midpoint is exact.
    // SCALE SWAP (SCALE.md "median / percentiles"): exact median() buffers
    // every group's values in the final aggregate — n/groups rows on one
    // reducer; with 3 group keys that dies at corpus scale. At 100 TB use
    // approx_percentile(col, 0.5) (t-digest: mergeable partials, bounded
    // memory) — same swap q_agg_percentiles documents. The exact form here
    // is the oracle-parity fixture path. The mode half is two-phase
    // mergeable (groupBy-count + windowed argmax) and scale-safe as is.
    "q_median_mode" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val med = li.groupBy(col("l_returnflag"))
        .agg(round(median(col("l_quantity")), 4).as("med_qty"),
             count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("l_quantity"))
      val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
                col("cnt").as("mode_n"))
      med.join(mode, Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },

    // Two-phase salted aggregation — the skew-proof form of groupBy for
    // hot keys (l_returnflag has only 3 values, the worst case: a plain
    // final agg funnels each flag's entire partial stream through one
    // reducer). Phase 1 aggregates by (key, salt) spreading each hot key
    // over `SaltFactor` reducers; phase 2 merges the per-salt partials.
    // sum/count are mergeable, and the DECIMAL sums make the re-
    // association exact, so the result equals the direct groupBy — which
    // is exactly what the oracle runs. (Spark's own partial aggregation
    // already does this per-partition; the explicit salt is the pattern
    // for when the FINAL stage itself is the bottleneck, e.g. billions of
    // rows of one key, and for engines/paths without partial agg.)
    "q_agg_salted" -> { (s, d) =>
      Skew.saltedSumCount(
          Tables.lineitem(s, d), "l_returnflag",
          dec(col("l_quantity")), factor = 32)
        .select(col("l_returnflag"),
                outd(col("sum")).as("sum_qty"),
                col("n").as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // NULL semantics, pinned end-to-end: NULL forms its OWN group under
    // GROUP BY (distinct from any value), count(*) counts it while
    // count(col) / count(DISTINCT col) / sum(col) all skip NULLs,
    // coalesce re-admits them, `<=>` (IS NOT DISTINCT FROM) is the
    // null-safe comparison, and the output sort places the NULL group
    // FIRST explicitly (engines disagree on the default — Spark sorts
    // nulls first ASC, DuckDB last — so portable queries must say it).
    // NULLs are manufactured deterministically with nullif on fixture
    // values so both engines derive the identical nullable columns.
    "q_null_semantics" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(
          expr("nullif(l_returnflag, 'R')").as("grp"),
          expr("nullif(l_quantity, 1.0)").as("qn"),
          expr("nullif(l_quantity, 2.0)").as("qn2"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("qn")).as("n_qn"),
             count_distinct(col("qn")).as("nd_qn"),
             outd(sum(dec(col("qn")))).as("sum_qn"),
             outd(sum(dec(coalesce(col("qn"), lit(0.0))))).as("sum_coalesced"),
             count(when(col("qn") <=> col("qn2"), lit(1))).as("n_nullsafe_eq"))
        .orderBy(col("grp").asc_nulls_first)
    },

    // Feature standardization (the ML-prep primitive behind every
    // numeric feature column): per-group z-score + min-max scaling of
    // l_extendedprice. The group moments (n, Σx, Σx², min, max) are
    // EXACT single-pass mergeable decimal sums; mean/stddev/range math
    // then runs in double with the SAME textual expression shape in
    // both engines (identical IEEE ops on identical exact inputs ⇒
    // identical bits, the q_rolling_corr discipline), rounded to 4.
    // Degenerate groups (n<2 or zero variance/range) produce NULL, not
    // ±inf, via the same exact-decimal guards on both sides.
    // 100 TB lens: the stats frame is |groups| rows and BROADCAST back —
    // the fact table is scanned twice but never shuffled; at scale the
    // second scan collapses the same way (stats persist as a tiny
    // dimension), which is exactly how a production feature store ships
    // normalization constants.
    "q_feature_scale" -> { (s, d) =>
      // r20 opt: sum(x) and sum(x·x) via the long-chunk rewrite (see
      // q_agg_groupby) — the per-row BigDecimal square and byte-backed
      // buffer updates were the key's hot path; min/max stay decimal
      // (long-backed (18,2) buffers are already allocation-free).
      val x = dec(col("l_extendedprice"))
      val B = 1L << 20
      val mask = B - 1
      def lo(c: Column) = c.bitwiseAND(lit(mask))
      def mid(c: Column) = shiftright(c, 20).bitwiseAND(lit(mask))
      def de(c: Column) = c.cast(DecimalType(38, 0))
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val stats = Tables.lineitem(s, d)
        .select(col("l_returnflag"), x.as("xd"), pc.as("pc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(lo(col("pc"))).as("sx0"), sum(mid(col("pc"))).as("sx1"),
             sum(lo(col("pc") * col("pc"))).as("sxx0"),
             sum(mid(col("pc") * col("pc"))).as("sxx1"),
             sum(shiftright(col("pc") * col("pc"), 40)).as("sxx2"),
             min(col("xd")).as("mn"), max(col("xd")).as("mx"))
        .select(col("l_returnflag"), col("n"),
          ((de(col("sx1")) * B + de(col("sx0"))) / 100).as("sx"),
          ((de(col("sxx2")) * B * B + de(col("sxx1")) * B + de(col("sxx0")))
            / 10000).as("sxx"),
          col("mn"), col("mx"))
      val nD = col("n").cast("double")
      val mean = col("sx").cast("double") / nD
      val varr = (col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1)
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 100)
        .join(broadcast(stats), Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"),
          when(col("n") >= 2 && varr > 0,
            round((col("l_extendedprice") - mean) / sqrt(varr), 4))
            .as("zscore"),
          when(col("mx") > col("mn"),
            round((dec(col("l_extendedprice")) - col("mn")).cast("double") /
                  (col("mx") - col("mn")).cast("double"), 4))
            .as("minmax"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }
  )

  /** The IMPLEMENTED corpus-scale swap for q_agg_percentiles (SCALE.md
    * "median / percentiles"): the exact `percentile` aggregate buffers
    * every group value in one final-stage buffer; `approx_percentile`
    * (t-digest) keeps a bounded sketch per group and its partials merge
    * map-side, so the plan is an ordinary two-phase hash agg at any
    * group size. Same output schema as the key; AggSwapSpec pins it
    * within sketch tolerance of the exact form and asserts the exact
    * buffering aggregate is gone from the plan. */
  def aggPercentilesApprox(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 100000)")
             .as("ps"),
           count(lit(1)).as("n"))
      .select(col("l_returnflag"),
              round(element_at(col("ps"), 1), 4).as("p50"),
              round(element_at(col("ps"), 2), 4).as("p90"),
              round(element_at(col("ps"), 3), 4).as("p99"),
              col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** The IMPLEMENTED corpus-scale swap for q_median_mode: the exact
    * `median` becomes an `approx_percentile(…, 0.5)` sketch, and the mode
    * argmax drops its row_number window for a fully mergeable
    * `max(struct(cnt, -value))` — highest count then smallest value, the
    * same pinned tie-break, with no Window anywhere in the plan. */
  def medianModeApprox(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val med = li.groupBy(col("l_returnflag"))
      .agg(round(expr("approx_percentile(l_quantity, 0.5D, 100000)"), 4)
             .as("med_qty"),
           count(lit(1)).as("n"))
    val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), (-col("l_quantity")).as("neg_qty")))
             .as("top"))
      .select(col("l_returnflag"),
              (-col("top.neg_qty")).as("mode_qty"),
              col("top.cnt").as("mode_n"))
    med.join(mode, Seq("l_returnflag"))
      .orderBy(col("l_returnflag"))
  }

  def oracles: Map[String, String] = Map(
    "q_agg_global" -> """
      SELECT
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue,
        round(CAST(min(l_extendedprice) AS DOUBLE), 4) AS min_price,
        round(CAST(max(l_extendedprice) AS DOUBLE), 4) AS max_price,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        AND l_discount BETWEEN 0.02 AND 0.08 AND l_quantity < 24""",

    "q_agg_groupby" -> """
      SELECT l_returnflag, l_linestatus,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_base_price,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_charge,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_price,
        round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q_agg_distinct" -> """
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_partkey) AS n_part,
        round(CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_dist_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_rollup" -> """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_price,
        CAST(grouping(l_returnflag) AS TINYINT) AS g_rf,
        CAST(grouping(l_linestatus) AS TINYINT) AS g_ls
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q_cube" -> """
      SELECT c_mktsegment, n_name, count(*) AS n_cust,
        round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY CUBE (c_mktsegment, n_name)
      ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""",

    "q_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "q_agg_collect" -> """
      SELECT c_mktsegment,
        array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
        count(*) AS n
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_agg_percentiles" -> """
      SELECT l_returnflag,
        round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_stats" -> """
      SELECT l_returnflag,
        round(stddev_samp(l_extendedprice), 4) AS sd_price,
        round(var_samp(l_quantity), 4) AS var_qty,
        round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
        round(covar_samp(l_extendedprice, l_discount), 4) AS cov_pd,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_pivot" -> """
      SELECT o_orderstatus,
        count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
        count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
        count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
        count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_unpivot" -> """
      SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
               l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem)
      ORDER BY l_orderkey, l_linenumber, measure, value""",

    "q_agg_filtered" -> """
      SELECT o_orderstatus,
        count(*) AS n_all,
        count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE), 4)
          AS urgent_total,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
          FILTER (WHERE o_orderdate >= TIMESTAMP '1996-01-01') AS DOUBLE), 4)
          AS recent_total
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_median_mode" -> """
      WITH med AS (
        SELECT l_returnflag, round(median(l_quantity), 4) AS med_qty,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag),
      mode_t AS (
        SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n FROM (
          SELECT l_returnflag, l_quantity, count(*) AS cnt,
                 row_number() OVER (PARTITION BY l_returnflag
                                    ORDER BY count(*) DESC, l_quantity) AS rn
          FROM lineitem GROUP BY l_returnflag, l_quantity)
        WHERE rn = 1)
      SELECT m.l_returnflag, m.med_qty, m.n, t.mode_qty, t.mode_n
      FROM med m JOIN mode_t t USING (l_returnflag)
      ORDER BY m.l_returnflag""",

    // oracle is the DIRECT groupBy: the salted two-phase form must be
    // indistinguishable from it.
    "q_agg_salted" -> """
      SELECT l_returnflag,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
          AS sum_qty,
        count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_null_semantics" -> """
      WITH base AS (
        SELECT nullif(l_returnflag, 'R') AS grp,
               nullif(l_quantity, 1.0) AS qn,
               nullif(l_quantity, 2.0) AS qn2
        FROM lineitem)
      SELECT grp, count(*) AS n_rows, count(qn) AS n_qn,
        count(DISTINCT qn) AS nd_qn,
        round(CAST(sum(CAST(qn AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qn,
        round(CAST(sum(CAST(coalesce(qn, 0.0) AS DECIMAL(18,2))) AS DOUBLE), 4)
          AS sum_coalesced,
        count(CASE WHEN qn IS NOT DISTINCT FROM qn2 THEN 1 END)
          AS n_nullsafe_eq
      FROM base GROUP BY grp ORDER BY grp NULLS FIRST""",

    // Portable SQL (valid in BOTH engines -> SqlParityKeys.oracleReuse).
    "q_feature_scale" -> """
      WITH stats AS (
        SELECT l_returnflag, count(*) AS n,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
               sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                   CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx,
               min(CAST(l_extendedprice AS DECIMAL(18,2))) AS mn,
               max(CAST(l_extendedprice AS DECIMAL(18,2))) AS mx
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_orderkey, l_linenumber, l.l_returnflag, l_extendedprice,
        CASE WHEN n >= 2 AND
                  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
                   CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                  (CAST(n AS DOUBLE) - 1) > 0
          THEN round((l_extendedprice -
                      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
                      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                     (CAST(n AS DOUBLE) - 1)), 4)
        END AS zscore,
        CASE WHEN mx > mn
          THEN round(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) - mn
                          AS DOUBLE) / CAST(mx - mn AS DOUBLE), 4)
        END AS minmax
      FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
      WHERE l_orderkey <= 100
      ORDER BY l_orderkey, l_linenumber"""
  )
}
