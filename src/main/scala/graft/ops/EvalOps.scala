package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-eval / drift / reporting pack (round 13): the query shapes an ML
  * platform runs AROUND the training pipeline — score-quality readouts
  * (calibration, gains/lift), input-drift monitors (PSI), data audits
  * (Benford first-digit), rank statistics (Spearman), time-to-event
  * analysis (Kaplan-Meier), and the calendar-grain reporting staples
  * (YoY growth, equi-depth bins, weekly-cohort LTV) plus a closed-form
  * hierarchy rollup. Complements q_auc / q_ks_test / q_ab_ttest from
  * earlier rounds (reference scope: events land via the streamsurfer
  * batching client, `/root/reference/main.go:197-231`; everything here is
  * downstream analytics the task spec adds as first-class engine surface).
  *
  * Scale notes (100 TB lens):
  *  - q_calibration / q_psi / q_benford bin AT THE SCAN (pure arithmetic /
  *    string projection, codegen'd) and hash-agg to a ≤10-row grid — one
  *    fact-sized pass, map-side combinable; the reliability/PSI windows
  *    then run over the grid, never the facts.
  *  - q_lift_curve inherits q_auc's collapse-then-sweep: facts collapse to
  *    the score grain first, the ordered prefix-sum runs over |distinct
  *    scores| (quantize or range-partition the sweep when scores are
  *    continuous — same documented swap as q_auc).
  *  - q_spearman / q_ntile_bins / q_yoy_growth run on CALENDAR grains
  *    (day/month) — the global-ordered windows are scale-invariant
  *    because the frame is bounded by the calendar, not the data.
  *  - q_survival_km is ONE user-grain hash agg (3 conditional min/max,
  *    map-side combinable) + a sweep over the |distinct durations| grain.
  *  - q_hierarchy_rollup is CLOSED-FORM: in a binary-encoded hierarchy
  *    every ancestor is floor(key/2^j), so the transitive closure is an
  *    explode over depth levels (21 here = log2 keyspace; linear × depth,
  *    no iteration, no join) followed by one hash agg on the ancestor key.
  *    For arbitrary parent pointers the engine's pointer-doubling
  *    (q_connected_components) is the fallback.
  *  - q_cohort_ltv assigns cohorts with a user-partitioned window min
  *    (ONE shuffle by user_id, reused by the purchase re-aggregation);
  *    cohort sizes are calendar-×-cohort-sized and ride back broadcast.
  */
object EvalOps extends QueryPack {

  /** Shared single-partition window for ≤10-row grid sweeps. */
  private def all = Window.partitionBy()

  /** Ideal-DCG@10 cumulative table: Σ_{r=1..k} round(1/log2(r+1), 6),
    * summed as exact decimals. SINGLE SOURCE for the DSL when-chain AND
    * the generated oracle CASE — the rounded-6 gains match the engine-
    * computed per-rank dcg terms, so a perfectly-ranked user scores
    * ndcg = 1.0 exactly in both engines. */
  private[graft] val IdcgCum: Seq[(Int, Double)] = {
    val gains = (1 to 10).map(r => BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP))
    gains.scanLeft(BigDecimal(0))(_ + _).tail.zipWithIndex
      .map { case (c, i) => (i + 1, c.toDouble) }
  }

  private def idcgCaseSql: String =
    "CASE least(n_rel, 10) " +
      IdcgCum.map { case (k, v) => s"WHEN $k THEN $v" }.mkString(" ") +
      " ELSE NULL END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q_calibration: reliability bins for a classifier score -------
    // Score = logistic(value); label = purchase. Fixed-width decile bins
    // on p (deterministic — no quantile estimation), per-bin mean
    // predicted vs observed rate and the |gap| (the per-bin ECE term).
    // Exactness: p is the same IEEE double in both engines, summed as
    // DECIMAL(28,10) so addition order cannot diverge the hash.
    "q_calibration" -> { (s, d) =>
      val p = lit(1.0) / (lit(1.0) + exp(-(col("value") - lit(50.0)) / lit(10.0)))
      val meanP = round(sum(dec10(col("p"))).cast("double") /
        count(lit(1)).cast("double"), 4)
      val obs = round(sum(col("y")).cast("double") /
        count(lit(1)).cast("double"), 4)
      Tables.events(s, d)
        .select(p.as("p"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .select(least(floor(col("p") * 10), lit(9)).cast("int").as("bin"),
          col("p"), col("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          meanP.as("mean_p"), obs.as("obs_rate"),
          round(abs(meanP - obs), 4).as("gap"))
        .orderBy(col("bin"))
    },

    // ---- q_psi: population stability index between two populations ----
    // Expected = even event_ids, actual = odd (a deterministic split of
    // the same stream; in production the two sides are training-time vs
    // serving-time captures). 10 fixed-width bins over the GLOBAL value
    // range (1-row min/max frame broadcast back — the fact table never
    // shuffles); PSI = Σ (p−q)·ln(p/q) with +0.5 Laplace smoothing so a
    // one-sided empty bin contributes a finite term. Per-bin terms round
    // to 6 then sum as exact decimals — psi_total cannot drift with
    // addition order.
    "q_psi" -> { (s, d) =>
      psiOf(Tables.events(s, d)
        .select(col("value"), (col("event_id") % 2).as("half")))
    },

    // ---- q_spearman: rank correlation (daily orders vs revenue) -------
    // Average-rank ties via the 2×-scaled integer identity 2·rank+cnt−1
    // (no fractional ranks — every moment is an exact integer sum), then
    // Pearson on the scaled ranks (scaling cancels). Day grain: the rank
    // windows order a calendar-bounded frame, never the fact table.
    "q_spearman" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("rev"))
      val rx = lit(2) * rank().over(Window.orderBy(col("n_orders"))) +
        count(lit(1)).over(Window.partitionBy(col("n_orders"))) - 1
      val ry = lit(2) * rank().over(Window.orderBy(col("rev"))) +
        count(lit(1)).over(Window.partitionBy(col("rev"))) - 1
      daily.select(rx.as("rx"), ry.as("ry"))
        .agg(count(lit(1)).as("n"),
          sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
          sum(col("rx") * col("ry")).as("sxy"),
          sum(col("rx") * col("rx")).as("sxx"),
          sum(col("ry") * col("ry")).as("syy"))
        .select(col("n").as("n_days"),
          round((col("n") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n") * col("sxx").cast("double") -
               col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("n") * col("syy").cast("double") -
               col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("rho"))
    },

    // ---- q_benford: first-digit distribution audit --------------------
    // First significant digit extracted from the EXACT integer-cents
    // string (substr of a bigint's decimal rendering — log10-based digit
    // extraction is the classic cross-engine libm trap at 10^k
    // boundaries; log10 appears only in the 9-value expected table where
    // round(_,4) absorbs any last-ulp difference).
    "q_benford" -> { (s, d) =>
      val share = round(col("n").cast("double") /
        sum(col("n")).over(all).cast("double"), 4)
      val expected = round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 4)
      Tables.orders(s, d)
        .select(substring((dec(col("o_totalprice")) * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"), share.as("share"),
          expected.as("expected"),
          round(abs(share - expected), 4).as("abs_dev"))
        .orderBy(col("digit"))
    },

    // ---- q_lift_curve: cumulative gains / lift table ------------------
    // The q_auc collapse-then-sweep on the score grain, bucketed into
    // population deciles by CUMULATIVE row share (a score group lands
    // wholly in the decile of its last row — deterministic, no ntile over
    // raw facts); capture = positives reached through the decile, lift =
    // decile precision / base rate. All counts exact integers.
    "q_lift_curve" -> { (s, d) =>
      val perScore = Tables.events(s, d)
        .groupBy(col("value").as("s2"))
        .agg(count(lit(1)).as("tot"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("pos"))
      val sweep = Window.orderBy(col("s2").desc)
      perScore
        .select(col("tot"), col("pos"),
          sum(col("tot")).over(sweep).as("cum_tot"),
          sum(col("pos")).over(sweep).as("cum_pos"),
          sum(col("tot")).over(all).as("n"),
          sum(col("pos")).over(all).as("p"))
        .select(least(floor(col("cum_tot") * 10 / col("n")), lit(9))
          .cast("int").as("decile"),
          col("tot"), col("pos"), col("cum_pos"), col("n"), col("p"))
        .groupBy(col("decile"))
        .agg(sum(col("tot")).as("n_rows"), sum(col("pos")).as("n_pos"),
          round(max(col("cum_pos")).cast("double") /
            max(col("p")).cast("double"), 4).as("capture"),
          round((sum(col("pos")).cast("double") /
              sum(col("tot")).cast("double")) /
            (max(col("p")).cast("double") /
              max(col("n")).cast("double")), 4).as("lift"))
        .orderBy(col("decile"))
    },

    // ---- q_survival_km: Kaplan-Meier time-to-conversion ---------------
    // Duration = hours from a user's first event to their first purchase
    // (event observed) or to their last event (censored — never
    // converted). One user-grain agg → duration-grain life table
    // (n_risk via total − prefix sum), S(t) = Π(1 − d/n) computed as
    // exp(Σ ln(1−d/n)) with per-row ln terms rounded to 6 and summed as
    // exact decimals; a d = n_risk row (everyone at risk exits) pins the
    // curve to 0 from there via the swept `dead` flag — ln(0) never
    // evaluates.
    "q_survival_km" -> { (s, d) =>
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_ts"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_p"),
          max(col("ts")).as("last_ts"))
      val g = u
        .select(floor((unix_micros(coalesce(col("first_p"), col("last_ts"))) -
            unix_micros(col("first_ts"))) / lit(3600000000.0))
          .cast("int").as("t"),
          when(col("first_p").isNotNull, 1L).otherwise(0L).as("ev"))
        .groupBy(col("t"))
        .agg(sum(col("ev")).as("d"),
          (count(lit(1)) - sum(col("ev"))).as("c"))
      val before = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val upTo = Window.orderBy(col("t"))
      val lnTerm = round(log(when(col("d") < col("n_risk"),
          lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))
        .otherwise(lit(1.0))), 6).cast(DecimalType(18, 6))
      g.select(col("t"), col("d"), col("c"),
          (sum(col("d") + col("c")).over(all) -
            coalesce(sum(col("d") + col("c")).over(before), lit(0L)))
            .as("n_risk"))
        .select(col("t"), col("d"), col("c"), col("n_risk"),
          sum(lnTerm).over(upTo).as("lnsum"),
          max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(upTo)
            .as("dead"))
        .select(col("t").as("t_hours"), col("n_risk"),
          col("d").as("n_events"), col("c").as("n_censored"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(exp(col("lnsum").cast("double")), 4))
            .as("survival"))
        .orderBy(col("t_hours"))
    },

    // ---- q_yoy_growth: month-over-month / year-over-year growth -------
    // The calendar reporting staple: exact-decimal monthly revenue, then
    // lag(1)/lag(12) growth rates over the month-grain frame (calendar-
    // sized, scale-invariant); NULL where no prior period exists.
    "q_yoy_growth" -> { (s, d) =>
      val m = Window.orderBy(col("month"))
      def pct(k: Int) = round((col("rev").cast("double") -
          lag(col("rev"), k).over(m).cast("double")) /
        lag(col("rev"), k).over(m).cast("double"), 4)
      Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("rev"))
        .select(col("month"), col("n_orders"),
          round(col("rev").cast("double"), 4).as("rev"),
          pct(1).as("mom_pct"), pct(12).as("yoy_pct"))
        .orderBy(col("month"))
    },

    // ---- q_hierarchy_rollup: subtree aggregate, closed form -----------
    // Org-chart / BOM rollup over the binary-encoded hierarchy
    // parent(k) = floor(k/2): each key fans out to its ≤21 ancestors
    // arithmetically (floor(k/2^j) — exact: a double divide by 2^j only
    // shifts the exponent), one hash agg on the ancestor key gives every
    // node its descendant count, max depth, and subtree balance. Depth
    // bound = log2 of the keyspace (21 covers 2M keys; a parameter, not
    // a constant, at 100 TB).
    "q_hierarchy_rollup" -> { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"), col("c_acctbal"),
          explode(sequence(lit(0), lit(20))).as("lvl"))
        .select(floor(col("k") / pow(lit(2.0), col("lvl"))).cast("long")
          .as("node"), col("lvl"), col("c_acctbal"))
        .filter(col("node") >= 1)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_desc"),
          max(col("lvl")).cast("long").as("deepest"),
          round(sum(dec(col("c_acctbal"))).cast("double"), 4)
            .as("subtree_bal"))
        .orderBy(col("node"))
    },

    // ---- q_ntile_bins: equi-depth deciles of the daily-revenue series -
    // NTILE over the calendar-bounded day grain (never raw facts — the
    // documented swap at fact grain is approx-quantile boundaries +
    // arithmetic binning); per-bin count / lo / hi / total from exact
    // decimal sums.
    "q_ntile_bins" -> { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
        .select(col("rev"),
          ntile(10).over(Window.orderBy(col("rev"), col("day"))).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_days"),
          round(min(col("rev")).cast("double"), 4).as("lo"),
          round(max(col("rev")).cast("double"), 4).as("hi"),
          round(sum(col("rev")).cast("double"), 4).as("total"))
        .orderBy(col("bin"))
    },

    // ---- q_cohort_ltv: weekly-cohort revenue curve --------------------
    // Cohort = ISO week of the user's first event, assigned by a
    // user-partitioned window min (ONE shuffle, reused by the purchase
    // re-agg); LTV matrix = exact-decimal purchase revenue per (cohort,
    // week offset), normalized by the broadcast cohort sizes.
    "q_cohort_ltv" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"),
          date_trunc("week", min(col("ts"))
            .over(Window.partitionBy(col("user_id")))).cast("date")
            .as("cohort"))
      val sizes = ev.groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      ev.filter(col("event_type") === "purchase")
        .select(col("cohort"),
          floor(datediff(date_trunc("week", col("ts")).cast("date"),
            col("cohort")) / lit(7.0)).cast("int").as("w_offset"),
          col("user_id"), dec(col("value")).as("v"))
        .groupBy(col("cohort"), col("w_offset"))
        .agg(countDistinct(col("user_id")).as("n_buyers"),
          sum(col("v")).as("rev"))
        .join(broadcast(sizes), Seq("cohort"))
        .select(col("cohort"), col("w_offset"), col("n_users"),
          col("n_buyers"), round(col("rev").cast("double"), 4).as("rev"),
          round(col("rev").cast("double") / col("n_users").cast("double"), 4)
            .as("ltv"))
        .orderBy(col("cohort"), col("w_offset"))
    },

    // ---- q_target_encode: smoothed mean target encoding ---------------
    // The feature-prep staple: each category's target rate shrunk toward
    // the global prior by pseudo-count alpha=10 (the additive-smoothing
    // form every encoder library implements). ONE map-combinable hash
    // agg to the |categories| grid; prior/encoding math runs over the
    // grid, never facts. Exact integer counts until the display math.
    "q_target_encode" -> { (s, d) =>
      val prior = sum(col("n_pos")).over(all).cast("double") /
        sum(col("n")).over(all).cast("double")
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
            .as("n_pos"))
        .select(col("o_orderpriority"), col("n"), col("n_pos"),
          round(prior, 6).as("prior"),
          round((col("n_pos").cast("double") + lit(10.0) * prior) /
            (col("n").cast("double") + lit(10.0)), 6).as("enc"))
        .orderBy(col("o_orderpriority"))
    },

    // ---- q_woe_iv: weight of evidence + information value -------------
    // The credit-scoring binned-divergence readout (the directional
    // sibling of q_psi): 10 fixed-width price bins over the broadcast
    // global range, WoE = ln(good-share/bad-share) with +0.5 smoothing,
    // IV = Σ(pg−pb)·WoE summed as round-6 exact decimals.
    "q_woe_iv" -> { (s, d) =>
      val ext = Tables.orders(s, d)
        .select(col("o_totalprice").as("v"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val rng = ext.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val pg = (col("n_good").cast("double") + lit(0.5)) /
        (sum(col("n_good")).over(all).cast("double") + lit(5.0))
      val pb = (col("n_bad").cast("double") + lit(0.5)) /
        (sum(col("n_bad")).over(all).cast("double") + lit(5.0))
      ext.crossJoin(broadcast(rng))
        .select(greatest(least(floor((col("v") - col("lo")) /
            (col("hi") - col("lo")) * 10), lit(9)), lit(0))
          .cast("int").as("bin"), col("y"))
        .groupBy(col("bin"))
        .agg(sum(col("y")).as("n_good"),
          (count(lit(1)) - sum(col("y"))).as("n_bad"))
        .select(col("bin"), col("n_good"), col("n_bad"),
          round(log(pg / pb), 6).as("woe"),
          round(sum(round((pg - pb) * log(pg / pb), 6)
              .cast(DecimalType(18, 6))).over(all).cast("double"), 6)
            .as("iv_total"))
        .orderBy(col("bin"))
    },

    // ---- q_ranking_metrics: MRR + NDCG@10 -----------------------------
    // The retrieval-eval pair over the per-user value-ranked event list
    // (relevant = purchase): ONE user-partitioned row_number window (the
    // only fact shuffle), then a user-grain agg; per-rank dcg gains and
    // the IdcgCum lookup share the same round-6 constants, every
    // per-user score rides as an exact decimal so the global averages
    // cannot drift with addition order. Non-converters score 0 (counted
    // in the denominator — the standard "full-panel" convention).
    "q_ranking_metrics" -> { (s, d) =>
      val dec6 = DecimalType(18, 6)
      val ranked = Tables.events(s, d)
        .select(col("user_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("rel"),
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("value").desc, col("event_id"))).as("rn"))
      val pu = ranked.groupBy(col("user_id"))
        .agg(sum(col("rel")).as("n_rel"),
          min(when(col("rel") === 1, col("rn"))).as("first_rel"),
          sum(when(col("rel") === 1 && col("rn") <= 10,
              round(lit(1.0) / log2(col("rn") + 1), 6).cast(dec6))
            .otherwise(lit(0).cast(dec6))).as("dcg"))
      val idcg = IdcgCum.foldLeft(lit(null).cast("double")) {
        case (acc, (k, v)) =>
          when(least(col("n_rel"), lit(10)) === k, lit(v)).otherwise(acc)
      }
      pu.select(
          when(col("first_rel").isNotNull,
            round(lit(1.0) / col("first_rel"), 6).cast(dec6))
            .otherwise(lit(0).cast(dec6)).as("rr"),
          when(col("n_rel") > 0,
            round(col("dcg").cast("double") / idcg, 6).cast(dec6))
            .otherwise(lit(0).cast(dec6)).as("ndcg"))
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("rr")).cast("double") / count(lit(1)), 4).as("mrr"),
          round(sum(col("ndcg")).cast("double") / count(lit(1)), 4)
            .as("ndcg_at_10"))
    }
  )

  /** The q_psi computation over any (value, half) frame — shared by the
    * contract key and the streaming drift monitor (StreamingSpec pins
    * stream-fed-lake ≡ batch on identical rows). The frame is evaluated
    * twice (range agg + binning); callers at corpus scale pass a
    * persisted/lake-backed frame, which is exactly the streaming shape. */
  def psiOf(ev: DataFrame): DataFrame = {
    val rng = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    val pe = (col("n_e").cast("double") + lit(0.5)) /
      (sum(col("n_e")).over(all).cast("double") + lit(5.0))
    val pa = (col("n_a").cast("double") + lit(0.5)) /
      (sum(col("n_a")).over(all).cast("double") + lit(5.0))
    ev.crossJoin(broadcast(rng))
      .select(greatest(least(floor((col("value") - col("lo")) /
          (col("hi") - col("lo")) * 10), lit(9)), lit(0))
        .cast("int").as("bin"), col("half"))
      .groupBy(col("bin"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_e"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_a"))
      .select(col("bin"), col("n_e"), col("n_a"),
        round((pe - pa) * log(pe / pa), 6).as("psi_bin"))
      .withColumn("psi_total",
        round(sum(col("psi_bin").cast(DecimalType(18, 6))).over(all)
          .cast("double"), 6))
      .orderBy(col("bin"))
  }

  def oracles: Map[String, String] = Map(

    // Portable (DuckDB ∩ Spark) — own Spark twin via SqlOracleReuseSpec.
    "q_calibration" -> """
      WITH scored AS (
        SELECT 1.0 / (1.0 + exp(-(value - 50.0) / 10.0)) AS p,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events),
      b AS (
        SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
               CAST(p AS DECIMAL(28,10)) AS pd, y
        FROM scored)
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS n_pos,
        round(CAST(sum(pd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS mean_p,
        round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS obs_rate,
        round(abs(round(CAST(sum(pd) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) -
                  round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)), 4) AS gap
      FROM b GROUP BY bin ORDER BY bin""",

    // Portable.
    "q_psi" -> """
      WITH ext AS (
        SELECT value, event_id % 2 AS half FROM events),
      rng AS (SELECT min(value) AS lo, max(value) AS hi FROM ext),
      b AS (
        SELECT CAST(greatest(least(floor((value - lo) / (hi - lo) * 10), 9), 0) AS INT) AS bin,
               half
        FROM ext, rng),
      c AS (
        SELECT bin,
          CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_e,
          CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a
        FROM b GROUP BY bin),
      t AS (
        SELECT bin, n_e, n_a,
          (CAST(n_e AS DOUBLE) + 0.5) / (CAST(sum(n_e) OVER () AS DOUBLE) + 5.0) AS pe,
          (CAST(n_a AS DOUBLE) + 0.5) / (CAST(sum(n_a) OVER () AS DOUBLE) + 5.0) AS pa
        FROM c)
      SELECT bin, n_e, n_a,
        round((pe - pa) * ln(pe / pa), 6) AS psi_bin,
        round(CAST(sum(CAST(round((pe - pa) * ln(pe / pa), 6) AS DECIMAL(18,6))) OVER () AS DOUBLE), 6) AS psi_total
      FROM t ORDER BY bin""",

    // Portable.
    "q_spearman" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      r AS (
        SELECT
          2 * rank() OVER (ORDER BY n_orders) + count(*) OVER (PARTITION BY n_orders) - 1 AS rx,
          2 * rank() OVER (ORDER BY rev) + count(*) OVER (PARTITION BY rev) - 1 AS ry
        FROM daily),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
          CAST(sum(rx*ry) AS BIGINT) AS sxy,
          CAST(sum(rx*rx) AS BIGINT) AS sxx, CAST(sum(ry*ry) AS BIGINT) AS syy
        FROM r)
      SELECT n AS n_days,
        round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS rho
      FROM m""",

    // Portable (digit from the exact integer-cents string, not log10).
    "q_benford" -> """
      WITH d AS (
        SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING), 1, 1) AS INT) AS digit
        FROM orders),
      c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
      SELECT digit, n,
        round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 4) AS share,
        round(log10(1.0 + 1.0 / digit), 4) AS expected,
        round(abs(round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 4) -
                  round(log10(1.0 + 1.0 / digit), 4)), 4) AS abs_dev
      FROM c ORDER BY digit""",

    // Portable.
    "q_lift_curve" -> """
      WITH per_score AS (
        SELECT value AS s2,
          CAST(count(*) AS BIGINT) AS tot,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM events GROUP BY value),
      sw AS (
        SELECT tot, pos,
          CAST(sum(tot) OVER (ORDER BY s2 DESC) AS BIGINT) AS cum_tot,
          CAST(sum(pos) OVER (ORDER BY s2 DESC) AS BIGINT) AS cum_pos,
          CAST(sum(tot) OVER () AS BIGINT) AS n,
          CAST(sum(pos) OVER () AS BIGINT) AS p
        FROM per_score),
      d AS (
        SELECT CAST(least(floor(cum_tot * 10 / n), 9) AS INT) AS decile,
               tot, pos, cum_pos, n, p
        FROM sw)
      SELECT decile,
        CAST(sum(tot) AS BIGINT) AS n_rows, CAST(sum(pos) AS BIGINT) AS n_pos,
        round(CAST(max(cum_pos) AS DOUBLE) / CAST(max(p) AS DOUBLE), 4) AS capture,
        round((CAST(sum(pos) AS DOUBLE) / CAST(sum(tot) AS DOUBLE)) /
              (CAST(max(p) AS DOUBLE) / CAST(max(n) AS DOUBLE)), 4) AS lift
      FROM d GROUP BY decile ORDER BY decile""",

    // DuckDB dialect (epoch_us); Spark twin (unix_micros) in
    // SqlDialectTwins.
    "q_survival_km" -> """
      WITH u AS (
        SELECT user_id,
          min(ts) AS first_ts,
          min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_p,
          max(ts) AS last_ts
        FROM events GROUP BY user_id),
      lab AS (
        SELECT CAST(floor((epoch_us(coalesce(first_p, last_ts)) - epoch_us(first_ts)) / 3600000000.0) AS INT) AS t,
               CASE WHEN first_p IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM u),
      g AS (
        SELECT t, CAST(sum(ev) AS BIGINT) AS d,
               CAST(count(*) - sum(ev) AS BIGINT) AS c
        FROM lab GROUP BY t),
      sw AS (
        SELECT t, d, c,
          CAST(sum(d + c) OVER () AS BIGINT)
            - CAST(coalesce(sum(d + c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        FROM g),
      s AS (
        SELECT t, d, c, n_risk,
          sum(CAST(round(ln(CASE WHEN d < n_risk THEN 1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) ELSE 1.0 END), 6) AS DECIMAL(18,6)))
            OVER (ORDER BY t) AS lnsum,
          max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t) AS dead
        FROM sw)
      SELECT t AS t_hours, n_risk, d AS n_events, c AS n_censored,
        CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(CAST(lnsum AS DOUBLE)), 4) END AS survival
      FROM s ORDER BY t_hours""",

    // Portable.
    "q_yoy_growth" -> """
      WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1)
      SELECT month, n_orders,
        round(CAST(rev AS DOUBLE), 4) AS rev,
        round((CAST(rev AS DOUBLE) - CAST(lag(rev, 1) OVER (ORDER BY month) AS DOUBLE)) /
              CAST(lag(rev, 1) OVER (ORDER BY month) AS DOUBLE), 4) AS mom_pct,
        round((CAST(rev AS DOUBLE) - CAST(lag(rev, 12) OVER (ORDER BY month) AS DOUBLE)) /
              CAST(lag(rev, 12) OVER (ORDER BY month) AS DOUBLE), 4) AS yoy_pct
      FROM m ORDER BY month""",

    // DuckDB dialect (unnest(range)); Spark twin (explode(sequence)) in
    // SqlDialectTwins.
    "q_hierarchy_rollup" -> """
      WITH j AS (SELECT unnest(range(0, 21)) AS j),
      cl AS (
        SELECT CAST(floor(c.c_custkey / power(2, j.j)) AS BIGINT) AS node,
               j.j AS lvl, c.c_acctbal
        FROM customer c, j
        WHERE floor(c.c_custkey / power(2, j.j)) >= 1)
      SELECT node, CAST(count(*) AS BIGINT) AS n_desc,
             CAST(max(lvl) AS BIGINT) AS deepest,
             round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4) AS subtree_bal
      FROM cl GROUP BY node ORDER BY node""",

    // Portable.
    "q_ntile_bins" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1),
      t AS (SELECT rev, CAST(ntile(10) OVER (ORDER BY rev, day) AS INT) AS bin
            FROM daily)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_days,
        round(CAST(min(rev) AS DOUBLE), 4) AS lo,
        round(CAST(max(rev) AS DOUBLE), 4) AS hi,
        round(CAST(sum(rev) AS DOUBLE), 4) AS total
      FROM t GROUP BY bin ORDER BY bin""",

    // DuckDB dialect (date-int arithmetic in the week offset); Spark twin
    // (datediff) in SqlDialectTwins.
    "q_cohort_ltv" -> """
      WITH ev AS (
        SELECT user_id, ts, event_type, value,
          CAST(date_trunc('week', min(ts) OVER (PARTITION BY user_id)) AS DATE) AS cohort
        FROM events),
      sizes AS (
        SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM ev GROUP BY cohort),
      pur AS (
        SELECT cohort,
          CAST(floor((CAST(date_trunc('week', ts) AS DATE) - cohort) / 7.0) AS INT) AS w_offset,
          user_id, CAST(value AS DECIMAL(18,2)) AS v
        FROM ev WHERE event_type = 'purchase'),
      agg AS (
        SELECT cohort, w_offset,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
          sum(v) AS rev
        FROM pur GROUP BY cohort, w_offset)
      SELECT a.cohort, a.w_offset, s.n_users, a.n_buyers,
        round(CAST(a.rev AS DOUBLE), 4) AS rev,
        round(CAST(a.rev AS DOUBLE) / CAST(s.n_users AS DOUBLE), 4) AS ltv
      FROM agg a JOIN sizes s ON a.cohort = s.cohort
      ORDER BY a.cohort, a.w_offset""",

    // Portable.
    "q_target_encode" -> """
      WITH c AS (
        SELECT o_orderpriority,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, n, n_pos,
        round(CAST(sum(n_pos) OVER () AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6) AS prior,
        round((CAST(n_pos AS DOUBLE) + 10.0 *
               (CAST(sum(n_pos) OVER () AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE))) /
              (CAST(n AS DOUBLE) + 10.0), 6) AS enc
      FROM c ORDER BY o_orderpriority""",

    // Portable.
    "q_woe_iv" -> """
      WITH ext AS (
        SELECT o_totalprice AS v,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders),
      rng AS (SELECT min(v) AS lo, max(v) AS hi FROM ext),
      b AS (
        SELECT CAST(greatest(least(floor((v - lo) / (hi - lo) * 10), 9), 0) AS INT) AS bin, y
        FROM ext, rng),
      c AS (
        SELECT bin,
          CAST(sum(y) AS BIGINT) AS n_good,
          CAST(count(*) - sum(y) AS BIGINT) AS n_bad
        FROM b GROUP BY bin),
      t AS (
        SELECT bin, n_good, n_bad,
          (CAST(n_good AS DOUBLE) + 0.5) / (CAST(sum(n_good) OVER () AS DOUBLE) + 5.0) AS pg,
          (CAST(n_bad AS DOUBLE) + 0.5) / (CAST(sum(n_bad) OVER () AS DOUBLE) + 5.0) AS pb
        FROM c)
      SELECT bin, n_good, n_bad,
        round(ln(pg / pb), 6) AS woe,
        round(CAST(sum(CAST(round((pg - pb) * ln(pg / pb), 6) AS DECIMAL(18,6))) OVER () AS DOUBLE), 6) AS iv_total
      FROM t ORDER BY bin""",

    // Portable (the IDCG CASE is generated from the same IdcgCum
    // constants the DSL when-chain uses).
    "q_ranking_metrics" -> s"""
      WITH ranked AS (
        SELECT user_id,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
          row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        FROM events),
      pu AS (
        SELECT user_id,
          CAST(sum(rel) AS BIGINT) AS n_rel,
          min(CASE WHEN rel = 1 THEN rn END) AS first_rel,
          sum(CASE WHEN rel = 1 AND rn <= 10
              THEN CAST(round(1.0 / log2(rn + 1), 6) AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END) AS dcg
        FROM ranked GROUP BY user_id),
      scored AS (
        SELECT user_id,
          CASE WHEN first_rel IS NOT NULL
               THEN CAST(round(1.0 / first_rel, 6) AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END AS rr,
          CASE WHEN n_rel > 0
               THEN CAST(round(CAST(dcg AS DOUBLE) / ($idcgCaseSql), 6) AS DECIMAL(18,6))
               ELSE CAST(0 AS DECIMAL(18,6)) END AS ndcg
        FROM pu)
      SELECT CAST(count(*) AS BIGINT) AS n_users,
        round(CAST(sum(rr) AS DOUBLE) / count(*), 4) AS mrr,
        round(CAST(sum(ndcg) AS DOUBLE) / count(*), 4) AS ndcg_at_10
      FROM scored"""
  )
}
