package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product-analytics + IR-ranking pack: the query shapes a user of the
  * reference's event pipeline (`/root/reference/main.go:197-231` producers)
  * runs once the events land in a lake, plus the two classic text-ranking
  * scores (TF-IDF, BM25) that complete the LLM-pipeline text-analysis
  * story (SURVEY.md §2.B).
  *
  * Scale notes (100 TB lens):
  *  - q_funnel is ONE hash-shuffle by user_id (conditional min per step,
  *    map-side combinable) + a single-row global agg; step counts come out
  *    of one pass no matter how many events per user.
  *  - q_retention shuffles the DISTINCT (user, day) activity set — the
  *    events table collapses to ≤ users×days rows before the join; the
  *    cohort side is a re-aggregation of the same frame (shuffle reuse),
  *    never a second scan.
  *  - q_anomaly_zscore keeps per-group moments EXACT (decimal sum /
  *    sum-of-squares — single-pass, mergeable, no Welford merge-order
  *    drift) and broadcasts the 5-row stats frame back onto the fact
  *    side: the big table never shuffles at all.
  *  - q_histogram is pure arithmetic binning (integer cents DIV width) —
  *    narrow map + one tiny hash agg; no sort, no window, no join.
  *  - q_tfidf / q_bm25 shuffle token counts (doc_id, word) once; corpus
  *    scalars (N, avgdl, df) ride in as broadcast 1-row frames, exactly
  *    how a real index-build pipeline ships corpus statistics.
  */
object Analytics extends QueryPack {

  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75

  /** The deduped (customer, supplier) purchase-graph edge grain shared by
    * q_bfs_hops and q_degree_dist (ONE definition — two copies would let
    * a grain change silently desynchronize the keys' graphs). Lazily
    * localCheckpointed (the file's standing discipline): consumers all
    * read the one materialized frame, computed at first action rather
    * than at DataFrame construction, so plan-only callers pay nothing. */
  private def purchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
      .distinct()
      .localCheckpoint(eager = false)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Conversion funnel signup → view → purchase ordered by each user's
    // FIRST occurrence of each step (strict ts order). One groupBy(user)
    // with conditional mins, one global conditional count, unpivoted to
    // (step, n_users) rows.
    "q_funnel" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val perUser = ev
        .filter(col("event_type").isin("signup", "view", "purchase"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t1"),
             min(when(col("event_type") === "view", col("ts"))).as("t2"),
             min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
      val counts = perUser.agg(
        count(col("t1")).as("c1"),
        count(when(col("t1") < col("t2"), lit(1))).as("c2"),
        count(when(col("t1") < col("t2") && col("t2") < col("t3"), lit(1)))
          .as("c3"))
      counts
        .select(explode(map(
          lit("1_signup"), col("c1"),
          lit("2_view"), col("c2"),
          lit("3_purchase"), col("c3"))).as(Seq("step", "n_users")))
        .orderBy(col("step"))
    },

    // Cohort retention: cohort = a user's first active day; one row per
    // (cohort_day, day_offset) with the distinct users active that day.
    // ONE scan: activity collapses to DISTINCT (user, day), and the cohort
    // day is a min() WINDOW over that same frame's user partitions — no
    // self-join. (The join formulation plans TWO full scans of the fact
    // table: Catalyst drops the redundant distinct under the cohort-side
    // min, which breaks exchange-subtree equality and with it ReuseExchange
    // — measured, and pinned by AnalyticsSpec's single-scan assertion.)
    "q_retention" -> { (s, d) =>
      val activity = Tables.events(s, d)
        .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("day"))
        .distinct()
      val wUser = Window.partitionBy(col("user_id"))
      activity
        .withColumn("cohort_day", min(col("day")).over(wUser))
        .groupBy(col("cohort_day"),
                 datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },

    // Per-event-type z-score outliers (|z| > 2.5), population stddev.
    // Moments are computed from EXACT decimal sums (value is a 2-decimal
    // money column, so sum(dec) and sum(dec4(value²)) are exact — no
    // float merge-order drift), then the 5-row stats frame broadcasts
    // back onto the events scan: the fact side never shuffles.
    "q_anomaly_zscore" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(dec(col("value"))).as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(28, 4))).as("s2"))
        .select(col("event_type"),
          (col("s1").cast("double") / col("n")).as("mean"),
          sqrt(col("s2").cast("double") / col("n") -
            pow(col("s1").cast("double") / col("n"), 2)).as("sd"))
      // sd > 0 guard: a constant-valued group has sd = 0, where Spark and
      // DuckDB disagree on x/0 vs 0/0 — excluding it identically in both
      // engines (oracle joins AND s.sd > 0) keeps the parity gate
      // data-independent. A zero-variance group has no outliers anyway.
      ev.join(broadcast(stats.filter(col("sd") > 0)), Seq("event_type"))
        .withColumn("z", round((col("value") - col("mean")) / col("sd"), 4))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_type"), col("event_id"))
    },

    // Equi-width histogram of l_extendedprice: 10 fixed bins over
    // [0, 120000). Binning is exact integer arithmetic on cents
    // (round(p*100) is an exact integer for a 2-decimal column), so both
    // engines bin identically — no float-edge ambiguity. Narrow map +
    // one 10-group agg; the scale cost is one pass over the table.
    "q_histogram" -> { (s, d) =>
      val w = 12000L * 100L // bin width in cents
      Tables.lineitem(s, d)
        .select(col("l_extendedprice").as("p"),
          least(floor(round(col("l_extendedprice") * 100).cast("long") / w),
                lit(9L)).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
             min(col("p")).as("min_price"), max(col("p")).as("max_price"))
        .select(col("bin"), (col("bin") * 12000L).as("bin_lo"),
                col("n"), col("min_price"), col("max_price"))
        .orderBy(col("bin"))
    },

    // TF-IDF: top-3 terms per document, tfidf = (tf/dl) · ln(N/df).
    // dl and df are WINDOW sums over the one (doc_id, word, tf) lineage —
    // separate aggregate branches each re-tokenize the text (column
    // pruning makes the subtrees differ, so ReuseExchange can't fire;
    // measured as 3 text scans) — and N joins in from a metadata-only
    // count of documents (zero text bytes read). Net: the text column is
    // tokenized exactly ONCE at any corpus size (AnalyticsSpec pins the
    // scan count). Ranking is over the ROUNDED score with a word
    // tie-break, so both engines rank identically.
    "q_tfidf" -> { (s, d) =>
      // r19 opt: dl and df were unordered windows over TWO different
      // partitionings — two full token-grain shuffles, each buffering
      // every partition's rows per task. Both are plain aggregates of the
      // tf frame (dl = Σtf per doc, df = row count per word), so compute
      // them as doc-/vocab-sized aggregate frames off the one
      // checkpointed tf grain and join them back (broadcast-sized here;
      // co-partitioned hash joins at corpus scale — never a per-row
      // window buffer either way). Values and schema are unchanged.
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dfc = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      // no broadcast hints on dl/dfc: AQE broadcasts them while they fit
      // (it does at every fixture scale) and falls back to co-partitioned
      // hash joins when a 100 TB corpus outgrows the threshold
      val scored = tf
        .join(dl, Seq("doc_id"))
        .join(dfc, Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf", round((col("tf") / col("dl")) *
          log(col("n_docs") / col("df").cast("double")), 4))
      QueryPack.topK(scored, Seq("doc_id"),
          Seq(col("tfidf").desc, col("word")), 3)
        .select(col("doc_id"), col("rn"), col("word"), col("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    },

    // BM25 ranking for the single-term query 'spark' (k1=1.2, b=0.75):
    // idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    // score = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).
    // Per-doc tf/dl come from one narrow projection, and ALL THREE corpus
    // scalars (N, avgdl, df) come out of ONE aggregate over that same
    // projection (df as a conditional count) — two text scans total, down
    // from three in the original per-scalar formulation (AnalyticsSpec
    // pins the count). All arithmetic is deterministic doubles over exact
    // integer inputs.
    "q_bm25" -> { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), _ === "spark")).as("tf"),
          size(split(col("text"), " ")).as("dl"))
      val hits = base.filter(col("tf") > 0)
      val corpus = base.agg(count(lit(1)).as("n_docs"),
                            avg(col("dl")).as("avgdl"),
                            count(when(col("tf") > 0, lit(1))).as("df_t"))
      hits.crossJoin(broadcast(corpus))
        .withColumn("bm25", round(
          log(lit(1.0) + (col("n_docs") - col("df_t") + lit(0.5)) /
            (col("df_t") + lit(0.5))) *
          (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))), 4))
        .select(col("doc_id"), col("tf"), col("dl"), col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
    },

    // Time-series gap fill + linear interpolation over hourly purchase
    // sums. The window orders the AGGREGATED hour frame (720 rows/month at
    // any data scale), not the events — the fact table's only cost is the
    // hourly pre-aggregation, once. Slopes divide exact integer epochs and
    // the neighbor values are exact decimal sums, so both engines
    // interpolate identically.
    "q_interpolate" -> { (s, d) =>
      val hourly = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(dec(col("value"))).as("v"))
      // Single pass, no spine join: each PRESENT hour emits itself plus
      // the missing hours up to (exclusive) the next present hour, with
      // the gap values interpolated between the two neighbors directly
      // (pv = this row, nv = lead). Equivalent to the spine + IGNORE NULLS
      // formulation — interior gaps sit between exactly these neighbors,
      // and the spine's ends are present by construction — but the fact
      // table is scanned ONCE (the spine variant's min/max bounds
      // aggregate forced a second scan: the pruned subtree no longer
      // matched, so ReuseExchange couldn't fire; AnalyticsSpec pins it).
      val wNext = Window.orderBy(col("h"))
      val vd = col("v").cast("double")
      hourly
        .withColumn("nh", lead(col("h"), 1).over(wNext))
        .withColumn("nv", lead(vd, 1).over(wNext))
        .select(col("h"), vd.as("pv"), col("nh"), col("nv"),
          explode(sequence(col("h"),
            coalesce(col("nh") - expr("INTERVAL 1 HOUR"), col("h")),
            expr("INTERVAL 1 HOUR"))).as("win_h"))
        .select(col("win_h"), (col("win_h") =!= col("h")).as("is_gap"),
          round(when(col("win_h") === col("h"), col("pv")).otherwise(
            col("pv") + (col("nv") - col("pv")) *
              (unix_timestamp(col("win_h")) - unix_timestamp(col("h"))) /
              (unix_timestamp(col("nh")) - unix_timestamp(col("h")))), 4)
            .as("v_filled"))
        .orderBy(col("win_h"))
    },

    // Order-insensitive table fingerprint — the "did the copy/migration
    // preserve every row" data-quality check: a 60-bit per-row digest over
    // the business columns (timestamps as integer micros, money as exact
    // 2-decimal strings — every piece formats identically in both
    // engines), folded with commutative aggregates (xor/min/max/count) so
    // partitioning and row order can't change the answer. Pure narrow map
    // + one tiny hash agg: one pass at any scale.
    "q_table_checksum" -> { (s, d) =>
      val rh = graft.expr.Md5Prefix60.h60(concat_ws("|",
        col("l_orderkey").cast("string"), col("l_partkey").cast("string"),
        col("l_suppkey").cast("string"), col("l_linenumber").cast("string"),
        dec(col("l_quantity")).cast("string"),
        dec(col("l_extendedprice")).cast("string"),
        col("l_returnflag"), col("l_linestatus"),
        // l_shipdate is TIMESTAMP_NTZ; the NTZ→TZ cast is a micros
        // identity because every graft session pins UTC (Verify/Bench/
        // TestSpark), matching DuckDB's naive epoch_us view byte-for-byte.
        unix_micros(col("l_shipdate").cast("timestamp")).cast("string")))
      // r19 opt: one md5 per row over a 10-column concat is the key's
      // whole cost, and a single parquet row group scans as ONE task —
      // spread the RAW columns first (the r16 CPU-dense-narrow-row
      // discipline; REPARTITION_BY_NUM is exempt from AQE coalescing) so
      // the digest work uses every core at any file layout. The exchange
      // moves the 10 raw business columns once — cheap next to the
      // per-row digest it parallelizes.
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
        .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
        .select(col("l_returnflag"), rh.as("rh"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
             expr("bit_xor(rh)").as("xor_h"),
             min(col("rh")).as("min_h"), max(col("rh")).as("max_h"))
        .orderBy(col("l_returnflag"))
    },

    // ---- q_sessionize: gap-based event sessionization -----------------
    // The batch sessionization primitive (the analytics twin of
    // q_session_window's streaming form): a new session starts when the
    // gap from the user's previous event exceeds 4 h (this fixture's
    // inter-event median is ~7 h, so the threshold yields a real mix of
    // multi-event and singleton sessions). The conditional-cumsum pattern:
    // lag → boolean flag → running sum = session id, all inside ONE
    // window partition chain (one shuffle by user_id, two partition-local
    // window passes, then the per-session agg reuses the same
    // partitioning). Timestamps surface as epoch seconds (engine-
    // independent); value sums are exact decimal, rounded at output.
    "q_sessionize" -> { (s, d) =>
      sessionize(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("value"),
                  col("ts").cast("long").as("sec")),
        14400L)
        .orderBy(col("user_id"), col("sess_id"))
    },

    // ---- q_pmi_bigrams: bigram co-occurrence / PMI ---------------------
    // Collocation mining (the corpus-analysis step behind tokenizer-merge
    // and phrase-vocabulary decisions): PMI = ln(p(x,y) / (p(x)·p(y)))
    // over adjacent word pairs. SINGLE-SCAN (r8 verdict item 6 — the old
    // form tokenized the corpus twice, once per n-gram order): unigrams
    // and 2-shingles ride ONE exploded array into ONE mixed hash agg —
    // the keyspaces can't collide (a split word never contains a space, a
    // 2-shingle always does), so one (unit, count) frame holds both
    // vocabularies, split after the fact by contains(' '). The frame is
    // vocab-sized (not corpus-sized) and lazily localCheckpoint'd so its
    // four consumers (bigram slice, two unigram joins, the totals row)
    // read materialized blocks instead of re-tokenizing — text is scanned
    // exactly ONCE per evaluation by construction (AnalyticsSpec pins the
    // zero-FileScan consuming plan; at 100 TB the checkpoint becomes the
    // persisted-counts parquet the pipeline ops document). Corpus totals
    // ride in as a 1-row broadcast; the only float math is the final ln,
    // written in the identical textual multiply/divide order in both
    // engines and rounded at output. Top-20 by (pmi, w1, w2) — a unique,
    // deterministic boundary.
    "q_pmi_bigrams" -> { (s, d) =>
      val counts = Tables.documents(s, d)
        .select(explode(concat(split(col("text"), " "),
          graft.expr.WordShingles.of(col("text"), 2))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val isBi = col("u").contains(" ")
      val uni = counts.filter(!isBi).select(col("u").as("w"), col("c"))
      val bi = counts.filter(isBi)
        .select(split(col("u"), " ").as("p"), col("c").as("c_xy"))
        .select(element_at(col("p"), 1).as("w1"),
                element_at(col("p"), 2).as("w2"), col("c_xy"))
      val totals = counts.agg(
        sum(when(!isBi, col("c"))).cast("double").as("n_uni"),
        sum(when(isBi, col("c"))).cast("double").as("n_bi"))
      bi.filter(col("c_xy") >= 5)
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("c_xy"),
          round(log(col("c_xy").cast("double") * col("n_uni") * col("n_uni")
            / (col("n_bi") * col("c1") * col("c2"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // Markov transition matrix over the event stream: for each observed
    // (event_type -> next event_type) pair of the SAME user in strict
    // (ts, event_id) order, the count and the row-conditional probability
    // p(next | cur). ONE shuffle by user_id for the lead(), then the
    // frame collapses to |types|² rows; the per-cur normalizer is a
    // window over that tiny frame, not the fact table. The sequence-mining
    // shape behind "what do users do after signup?" on the reference's
    // event feed (/root/reference/main.go:197-231 producer domain).
    "q_event_transitions" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("event_type"))), 4))
        .orderBy(col("event_type"), col("next_type"))
    },

    // RFM customer segmentation: recency (last order date), frequency
    // (order count), monetary (exact-decimal total) per customer, each
    // quartiled by ntile(4) with a custkey tie-break (total order ⇒ both
    // engines bucket identically), then a rule-based segment label.
    // The fact table collapses to |customers| rows BEFORE any window.
    // 100 TB lens: the three ntile windows are global-order over the
    // customer grain — the same documented trade-off as q_sort_multi
    // (range-partitioned sort at scale); the constant-memory swap is
    // approx_percentile cutpoints broadcast back, trading exact
    // equal-size buckets for fixed boundaries.
    "q_rfm" -> { (s, d) =>
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
             count(lit(1)).as("frequency"),
             outd(sum(dec(col("o_totalprice")))).as("monetary"))
      val scored = base
        .withColumn("r_score", ntile(4).over(
          Window.orderBy(col("last_order").desc, col("custkey"))))
        .withColumn("f_score", ntile(4).over(
          Window.orderBy(col("frequency").desc, col("custkey"))))
        .withColumn("m_score", ntile(4).over(
          Window.orderBy(col("monetary").desc, col("custkey"))))
      scored
        .withColumn("segment",
          when(col("r_score") === 1 && col("f_score") === 1, lit("champion"))
            .when(col("r_score") <= 2 && col("f_score") <= 2, lit("loyal"))
            .when(col("r_score") >= 3 && col("f_score") <= 2, lit("at_risk"))
            .otherwise(lit("other")))
        .select(col("custkey"), col("last_order"), col("frequency"),
                col("monetary"), col("r_score"), col("f_score"),
                col("m_score"), col("segment"))
        .orderBy(col("custkey"))
    },

    // Robust outliers via median absolute deviation (the heavy-tail-safe
    // twin of q_anomaly_zscore): per event_type, med = median(value),
    // MAD = median(|value − med|), flag |value − med| > 3·1.4826·MAD.
    // Exact medians for oracle parity (both engines interpolate the even
    // midpoint identically on these 2-decimal doubles); the documented
    // 100 TB swap is approx_percentile(…, 0.5) exactly as q_median_mode.
    // Both stats frames are ≤|event_types| rows and broadcast — the fact
    // side never shuffles; zero-MAD groups are excluded in both engines
    // (a majority-constant group's deviations are not outliers under MAD).
    "q_anomaly_mad" -> { (s, d) =>
      val ev = Tables.events(s, d)
      val med = ev.groupBy(col("event_type"))
        .agg(median(col("value")).as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), col("med"))
        .agg(median(abs(col("value") - col("med"))).as("mad"))
      ev.join(broadcast(mad.filter(col("mad") > 0)), Seq("event_type"))
        .withColumn("score", round((col("value") - col("med")) /
          (lit(1.4826) * col("mad")), 4))
        .filter(abs(col("score")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
                col("med"), col("mad"), col("score"))
        .orderBy(col("event_type"), col("event_id"))
    },

    // Gaps-and-islands: each user's maximal runs of CONSECUTIVE active
    // days (the streak primitive behind engagement metrics). Classic
    // day-number − row_number() grouping: activity collapses to DISTINCT
    // (user, day) first (≤ users×days rows at any fact scale — the same
    // collapse as q_retention), then one window per user partition.
    "q_gaps_islands" -> { (s, d) =>
      val act = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("dn"))
      act
        .withColumn("dn", datediff(col("day"), lit("2024-01-01").cast("date")))
        .withColumn("grp", col("dn") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("streak_start"),
             max(col("day")).as("streak_end"),
             count(lit(1)).cast("int").as("streak_days"))
        .select(col("user_id"), col("streak_start"), col("streak_end"),
                col("streak_days"))
        .orderBy(col("user_id"), col("streak_start"))
    },

    // Weighted PageRank over the customer↔supplier purchase graph (who
    // is central in the supply network): edges = (customer, supplier)
    // weighted by lineitem count, symmetrized so every node has
    // out-edges (no dangling-mass redistribution), 8 power iterations at
    // d=0.85 via GraphRank.pagerank — per-edge contributions rounded
    // then decimal-summed, so the float fixpoint is oracle-checkable
    // cross-engine (the oracle is the same recurrence unrolled as
    // chained CTEs, portable enough to be its own Spark twin). Node ids
    // disambiguate the bipartite sides arithmetically: customer c ↦ 2c,
    // supplier s ↦ 2s+1.
    "q_pagerank" -> { (s, d) =>
      val le = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
                 (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
      // symmetrize via ONE explode, not a self-union: a union evaluates
      // the grouped edge frame twice (ReuseExchange can't always dedupe
      // the pruned branches); the explode is a narrow 2× fan-out
      val edges = le.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
                col("e.w").as("w"))
      GraphRank.pagerank(edges, iters = PrIters, damping = PrDamping)
        .select(
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          ((col("node") - col("node") % 2) / 2).cast("long").as("node_key"),
          round(col("r"), 8).as("pr"))
        .orderBy(col("pr").desc, col("kind"), col("node_key"))
        .limit(20)
    },

    // Rolling 14-day Pearson correlation between daily order count and
    // daily revenue (do busier days bring proportionally bigger money?).
    // All five window moments (Σx, Σy, Σxy, Σx², Σy²) are EXACT integer/
    // decimal sums over a trailing RANGE frame keyed by day number —
    // revenue rides as integer cents, squares as decimal(38,0) (a long
    // would overflow at Σy² scale) — and the correlation is one closed-
    // form float expression over those exact sums in identical textual
    // order in both engines, rounded to 4. Zero-variance and short
    // windows are filtered EXACTLY (decimal compares) before the float
    // division, so no engine ever divides by zero (inf-vs-null
    // divergence). 100 TB lens: facts collapse to one row per day before
    // the window; the window runs over the calendar, not the fact table.
    "q_rolling_corr" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"),
             sum(round(col("o_totalprice") * 100).cast("long")).as("yl"))
        .select(col("day"),
          datediff(col("day"), lit("1992-01-01").cast("date")).as("dn"),
          col("x"), col("yl").cast(DecimalType(19, 0)).as("y"))
      val w = Window.orderBy(col("dn")).rangeBetween(-13, 0)
      val sums = daily.select(col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(col("x").cast(DecimalType(10, 0)) * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"))
      // the guards run in DOUBLE with the same textual shape as the
      // correlation itself: what matters is that both engines filter the
      // SAME rows, and identical IEEE ops on identical exact sums do —
      // decimal×bigint width promotion rules differ across engines, so an
      // exact-decimal guard would not be portable
      sums
        .filter(col("n") >= 8 &&
          col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") > 0 &&
          col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double") > 0)
        .select(col("day"), col("n").cast("int").as("n_days"),
          round((col("n").cast("double") * col("sxy").cast("double") -
                 col("sx").cast("double") * col("sy").cast("double")) /
                (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                      col("sx").cast("double") * col("sx").cast("double")) *
                 sqrt(col("n").cast("double") * col("syy").cast("double") -
                      col("sy").cast("double") * col("sy").cast("double"))), 4)
            .as("corr14"))
        .orderBy(col("day"))
    },

    // One-pass deterministic Poisson bootstrap (the online bootstrap for
    // distributed data: each row joins every replica with a Poisson(1)
    // multiplicity, so B resamples cost ONE scan + a B-way narrow fan-out
    // — no per-replica shuffles, no sampling state). The expensive digest
    // runs ONCE per row; each replica's uniform is a cheap universal-hash
    // scramble of it ((h32·(2b+3) + b·2654435761) mod P, the minhash
    // permutation-family idiom — 32× fewer md5s than digesting (key, b)
    // pairs, measured 3.5× faster at B=32), then through the Poisson
    // inverse CDF. Reproducible across runs, engines, and partitionings.
    // Output: 32 replica means of the order value (exact cents sums; one
    // rounded float division each) plus each replica's rank — rk 1/32
    // bracket the ~95 % CI. 100 TB lens: the fan-out multiplies the
    // mapper stream, never the shuffle — per-replica partial aggs
    // combine map-side into ≤ B rows per task.
    "q_bootstrap_ci" -> { (s, d) =>
      val u = ((col("h32") * (col("b") * 2 + 3) +
          col("b") * lit(2654435761L)) % lit(2147483647L) + 1)
        .cast("double") / lit(2147483647L).cast("double")
      val w = PoisCdf.zipWithIndex.reverse
        .foldLeft(lit(6)) { case (acc, (t, k)) =>
          when(u < lit(t), lit(k)).otherwise(acc)
        }
      val stats = Tables.orders(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        // spread the h60 + 32-way resample-weight evaluation (the
        // shingleHashes r16 discipline — CPU-dense, one row group)
        .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
        .select(
          (graft.expr.Md5Prefix60.h60(col("o_orderkey").cast("string")) %
            lit(4294967296L)).as("h32"),
          col("cents"), explode(sequence(lit(0), lit(31))).as("b"))
        .withColumn("w", w)
        .groupBy(col("b"))
        .agg(sum(col("w")).cast("long").as("n_eff"),
             sum((col("w") * col("cents")).cast(DecimalType(19, 0))).as("s"))
        .filter(col("n_eff") > 0)
        .select(col("b").cast("int").as("b"), col("n_eff"),
          round(col("s").cast("double") / col("n_eff").cast("double"), 6)
            .as("mean_price"))
      stats
        .withColumn("rk", row_number().over(
          Window.orderBy(col("mean_price"), col("b"))).cast("int"))
        .orderBy(col("b"))
    },

    // Last-touch attribution: each purchase is credited to the most
    // recent PRIOR non-purchase event of the same user (classic
    // marketing attribution over the reference's event feed); purchases
    // with no prior touch are 'direct'. ONE shuffle by user_id for the
    // IGNORE-NULLS last() over the preceding frame, then the frame
    // collapses to ≤|event_types| credit rows — the revenue sum rides as
    // exact decimal so accumulation order cannot diverge the hash.
    // 100 TB lens: identical profile to q_event_transitions — the only
    // wide op is the per-user window; credit aggregation is map-side
    // combinable on the already-partitioned frame.
    "q_attribution" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"), col("value"))
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("direct")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
             outd(sum(dec(col("value")))).as("total_value"))
        .orderBy(col("touch_type"))
    },

    // Exponentially-weighted moving average of each user's event value,
    // evaluated at the user's LAST event over its trailing 20-event
    // frame with half-life-1 decay (w = 0.5^age). 0.5^k is EXACT in
    // binary floating point (a pure exponent shift), so every term
    // value·0.5^k is the same exact double in both engines; terms are
    // then rounded to 10 decimals and decimal-summed (the dec10
    // discipline), making the weighted mean order-independent. The
    // whole computation is one window pass + one hash agg — the
    // trailing-frame state is O(1) per user at any scale.
    "q_ewma" -> { (s, d) =>
      val wOrd = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("mx", max(col("rn")).over(wAll))
        .filter(col("rn") > col("mx") - 20)
        .withColumn("wt",
          pow(lit(0.5), (col("mx") - col("rn")).cast("double")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("int").as("n_window"),
          round(sum(dec10(col("wt") * col("value"))).cast("double") /
                sum(dec10(col("wt"))).cast("double"), 4).as("ewma"))
        .orderBy(col("user_id"))
    },

    // CUSUM changepoint detection: per event_type, the day where the
    // cumulative deviation of daily revenue from its overall mean peaks
    // (the classic level-shift detector). All arithmetic stays EXACT
    // until the final display division: S_i = n·cumsum_i − i·total is
    // the mean-centered CUSUM scaled by the (positive) day count n, so
    // argmax|S_i| ≡ argmax|cusum_i| with zero float ops in the argmax —
    // the selected day is bit-identical across engines by construction.
    // 100 TB lens: facts collapse to one row per (type, day) before any
    // window; both windows then run over the calendar-sized frame.
    "q_changepoint" -> { (s, d) =>
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      val cusum = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(dec(col("value"))).as("x"))
        .withColumn("i", row_number().over(wOrd))
        .withColumn("cx", sum(col("x")).over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tot", sum(col("x")).over(wAll))
        .withColumn("sdev", col("n") * col("cx") - col("i") * col("tot"))
      QueryPack.argmaxBy(cusum, Seq("event_type"),
          Seq(abs(col("sdev")).desc, col("day")), Seq("day", "i", "sdev", "n"))
        .select(col("event_type"), col("day").as("cp_day"),
          col("i").cast("int").as("day_idx"),
          round(col("sdev").cast("double") / col("n").cast("double"), 4)
            .as("peak_cusum"))
        .orderBy(col("event_type"))
    },

    // Bounded-depth BFS over the customer↔supplier purchase graph
    // (blast-radius / reachability: "which suppliers sit within 3 hops
    // of nation 0's customers?"). Seeds = nation-0 customers; hop 1 =
    // their suppliers, hop 2 = customers sharing those suppliers, hop 3
    // = the next supplier ring — each frontier deduped and anti-joined
    // against earlier rings so every node carries its MINIMUM hop
    // count, exactly the unrolled-K BFS semantics of the oracle's
    // chained CTEs. 100 TB lens: the edge list is deduped once to the
    // (customer, supplier) grain and reused by every round; frontiers
    // are node-sized (never edge-sized) and broadcast while small — at
    // web-graph frontier sizes the same joins fall back to shuffles,
    // the documented pointer-doubling alternative being
    // q_connected_components' machinery.
    "q_bfs_hops" -> { (s, d) =>
      val edges = purchaseEdges(s, d)
      // r19 opt: seed/h1/h2 each feed MULTIPLE consumers (the next ring's
      // expansion/anti-join AND the output union), and AQE does not reuse
      // exchanges across union branches — without a cut, h3's subtree
      // re-runs h2's, which re-runs h1's (the unrolled plan carried h1's
      // agg 3x). Frontiers are node-sized, so the lazy localCheckpoint
      // materializations are trivial next to the edge-frame passes they
      // delete: each ring is now computed exactly once per run.
      val seed = Tables.customer(s, d)
        .filter(col("c_nationkey") === 0)
        .select(col("c_custkey").as("c"))
        .localCheckpoint(eager = false)
      val h1 = edges.join(broadcast(seed), Seq("c"))
        .select(col("sup")).distinct()
        .localCheckpoint(eager = false)
      val h2 = edges.join(broadcast(h1), Seq("sup"))
        .select(col("c")).distinct()
        .join(broadcast(seed), Seq("c"), "left_anti")
        .localCheckpoint(eager = false)
      val h3 = edges.join(broadcast(h2), Seq("c"))
        .select(col("sup")).distinct()
        .join(broadcast(h1), Seq("sup"), "left_anti")
      seed.select(lit("customer").as("kind"), col("c").as("node_key"),
                  lit(0).as("hops"))
        .unionAll(h1.select(lit("supplier").as("kind"),
          col("sup").as("node_key"), lit(1).as("hops")))
        .unionAll(h2.select(lit("customer").as("kind"),
          col("c").as("node_key"), lit(2).as("hops")))
        .unionAll(h3.select(lit("supplier").as("kind"),
          col("sup").as("node_key"), lit(3).as("hops")))
        .orderBy(col("hops"), col("kind"), col("node_key"))
    },

    // Frequent 3-step event paths (sequence mining over the event feed:
    // "what do users actually do, in order?"): every consecutive
    // same-user (t1 > t2 > t3) triple via two leads over ONE user_id
    // window pass, then occurrence + distinct-user counts per path,
    // top-20 with a path tie-break. The window and both aggregates ride
    // the same user_id shuffle; the path frame is ≤|types|³ rows.
    "q_path_mining" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(concat(col("event_type"), lit(">"), col("t2"),
                        lit(">"), col("t3")).as("path"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // Degree distribution of the purchase graph (the first thing to look
    // at before running any graph algorithm — skew here decides the
    // partitioning story for q_pagerank/q_bfs_hops): per-side node
    // degrees over the deduped (customer, supplier) edge grain, then the
    // histogram of degrees. The edge frame is localCheckpointed and read
    // by both side aggregations; every shuffle after it is node-sized,
    // and the output is ≤|distinct degrees| rows per side at any scale.
    "q_degree_dist" -> { (s, d) =>
      val edges = purchaseEdges(s, d)
      def side(key: String, name: String) =
        edges.groupBy(col(key)).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree"))
          .agg(count(lit(1)).as("n_nodes"))
          .select(lit(name).as("side"), col("degree"), col("n_nodes"))
      side("c", "customer").unionAll(side("sup", "supplier"))
        .orderBy(col("side"), col("degree"))
    },

    // Time-bound conversion funnel (q_funnel with a 48 h step deadline —
    // the form product analytics actually runs): first signup, first
    // view within 48 h OF THAT signup, first purchase within 48 h of
    // that view. Step k's anchor is step k−1's timestamp, so the
    // cascade is three user-grain aggregates chained by equi-joins —
    // each join moves one (user_id, timestamp) pair per user, never the
    // fact table; counts come off frames that shrink monotonically.
    "q_funnel_window" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "view")
        .join(s1, Seq("user_id"))
        .filter(col("ts") >= col("t1") &&
                col("ts") <= col("t1") + expr("INTERVAL '48' HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") >= col("t2") &&
                col("ts") <= col("t2") + expr("INTERVAL '48' HOUR"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_users"))
        .select(lit("1_signup").as("step"), col("n_users"))
        .unionAll(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_view_48h").as("step"), col("n_users")))
        .unionAll(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase_48h").as("step"), col("n_users")))
        .orderBy(col("step"))
    },

    // Market-basket association rules (the co-occurrence/lift mining
    // behind "frequently bought together"): baskets = orders, items =
    // distinct parts per order; support-filtered items (apriori prune,
    // s ≥ 5) pair up INSIDE their basket via a self equi-join on the
    // basket key — fan-out is per-basket k², never corpus-quadratic, and
    // the prune bounds k before any pair exists. lift = c_ab·N/(s_a·s_b)
    // and confidence from exact integer counts, one float division each
    // at display. Top-20 by lift with full tie-breaks. 100 TB lens: the
    // pair shuffle is keyed (a, b) and map-side combinable; a hot item
    // pair salts through the q_join_salted knob; supports ride back as a
    // broadcast dimension.
    "q_basket_lift" -> { (s, d) =>
      // the basket item grain feeds FOUR consumers (supports, both pair
      // sides, the basket count) — localCheckpoint so the fact-side
      // distinct runs once (the q_bfs_hops discipline)
      val items = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
        .localCheckpoint(eager = false)
      // r19 opt: supp feeds THREE consumers (freq's semi filter + both
      // broadcast dimension sides) and freq feeds both pair sides — AQE
      // reuses neither subtree across branches, so without cuts the
      // support agg re-ran ~4x and the filtered item frame 2x per run.
      // supp is item-count-sized and freq is one filtered copy of the
      // already-checkpointed items, so both cuts are cheap.
      val supp = items.groupBy(col("part")).agg(count(lit(1)).as("s"))
        .filter(col("s") >= 5)
        .localCheckpoint(eager = false)
      val freq = items.join(supp.select(col("part")), Seq("part"))
        .localCheckpoint(eager = false)
      val nb = items.agg(countDistinct(col("okey")).as("n_baskets"))
      val pairs = freq.select(col("okey"), col("part").as("a"))
        .join(freq.select(col("okey"), col("part").as("b")), Seq("okey"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 3)
      pairs
        .join(broadcast(supp.select(col("part").as("a"), col("s").as("s_a"))),
          Seq("a"))
        .join(broadcast(supp.select(col("part").as("b"), col("s").as("s_b"))),
          Seq("b"))
        .crossJoin(broadcast(nb))
        .select(col("a"), col("b"), col("c_ab"), col("s_a"), col("s_b"),
          round(col("c_ab").cast("double") * col("n_baskets").cast("double") /
                (col("s_a").cast("double") * col("s_b").cast("double")), 4)
            .as("lift"),
          round(col("c_ab").cast("double") / col("s_a").cast("double"), 4)
            .as("confidence"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
    },

    // Welch's two-sample t-test per event type (the A/B-experiment
    // readout): variant = deterministic user_id parity split, moments
    // (n, Σx, Σx²) per arm as EXACT decimal CASE-sums in ONE hash agg —
    // no per-arm scans, map-side combinable at any fact scale — then
    // t-statistic and Welch–Satterthwaite df as one closed-form double
    // expression over the exact moments in identical textual order in
    // both engines (the q_rolling_corr discipline), rounded to 4.
    "q_ab_ttest" -> { (s, d) =>
      val isA = col("user_id") % 2 === 0
      val m = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(when(isA, 1L).otherwise(0L)).as("n_a"),
          sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
          sum(when(isA, dec(col("value"))).otherwise(lit(0).cast(
            DecimalType(18, 2)))).as("sx_a"),
          sum(when(!isA, dec(col("value"))).otherwise(lit(0).cast(
            DecimalType(18, 2)))).as("sx_b"),
          sum(when(isA, dec(col("value")) * dec(col("value")))
            .otherwise(lit(0).cast(DecimalType(37, 4)))).as("sxx_a"),
          sum(when(!isA, dec(col("value")) * dec(col("value")))
            .otherwise(lit(0).cast(DecimalType(37, 4)))).as("sxx_b"))
      def dbl(c: String) = col(c).cast("double")
      val (na, nb2) = (dbl("n_a"), dbl("n_b"))
      val ma = dbl("sx_a") / na
      val mb = dbl("sx_b") / nb2
      val va = (dbl("sxx_a") - dbl("sx_a") * dbl("sx_a") / na) / (na - 1)
      val vb = (dbl("sxx_b") - dbl("sx_b") * dbl("sx_b") / nb2) / (nb2 - 1)
      val sea = va / na
      val seb = vb / nb2
      m.filter(col("n_a") >= 2 && col("n_b") >= 2)
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
          round((ma - mb) / sqrt(sea + seb), 4).as("t_stat"),
          round((sea + seb) * (sea + seb) /
                (sea * sea / (na - 1) + seb * seb / (nb2 - 1)), 4).as("df"))
        .orderBy(col("event_type"))
    },

    // Pairwise Pearson correlation matrix over the three lineitem
    // measures, per returnflag (the numeric-profile step of any feature
    // audit): ALL nine moments (n, Σx, Σx², Σxy per pair) come out of
    // ONE exact-decimal hash agg over one scan — map-side combinable,
    // so a 100 TB correlation matrix costs one pass regardless of how
    // many measure pairs ride along; each correlation is then one
    // closed-form double expression over exact sums (q_rolling_corr
    // discipline), unpivoted to (group, var_x, var_y) rows.
    "q_corr_matrix" -> { (s, d) =>
      // r20 opt (guide §1.2 per-task work / §2.3 narrower types; VERDICT
      // r19 item 4, the suite's worst GC marker at 1269 ms): the r19 agg
      // was ten exact-DECIMAL moment sums, each multiplying through Java
      // BigDecimal per row with a byte-backed buffer that allocates per
      // update. All three measures carry ≤ 2 decimal digits, so every
      // moment is EXACTLY an integer in units of 1e-2 (first) or 1e-4
      // (second): the cent values (x·100, the same half-up rounding dec()
      // applies) multiply as codegen'd longs and sum through `exactSum` —
      // the values equal the r19 decimal sums bit for bit.
      val qc = round(col("l_quantity") * 100).cast("long")    // <= 5e3
      val pc = round(col("l_extendedprice") * 100).cast("long") // <= 1.05e7
      val dc = round(col("l_discount") * 100).cast("long")    // <= 10
      val (q, p, dd) = (col("qc"), col("pc"), col("dc"))
      val m = Tables.lineitem(s, d)
        .select(col("l_returnflag"), qc.as("qc"), pc.as("pc"), dc.as("dc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          exactSum(q, 1, 2).as("sq"),
          exactSum(p, 2, 2).as("sp"),
          exactSum(dd, 1, 2).as("sd"),
          exactSum(q * q, 2, 4).as("sqq"),      // qq <= 2.5e7
          exactSum(p * p, 3, 4).as("spp"),      // pp <= 1.2e14
          exactSum(dd * dd, 1, 4).as("sdd"),    // <= 100/row
          exactSum(q * p, 2, 4).as("sqp"),      // qp <= 5.3e10
          exactSum(q * dd, 1, 4).as("sqd"),     // <= 5e4/row
          exactSum(p * dd, 2, 4).as("spd"))     // pd <= 1.05e8
      def dbl(c: String) = col(c).cast("double")
      def corr(sx: String, sy: String, sxx: String, syy: String,
               sxy: String) =
        round((dbl("n") * dbl(sxy) - dbl(sx) * dbl(sy)) /
              (sqrt(dbl("n") * dbl(sxx) - dbl(sx) * dbl(sx)) *
               sqrt(dbl("n") * dbl(syy) - dbl(sy) * dbl(sy))), 4)
      // unpivot via ONE explode, not a 3-way union: AQE does not reuse
      // the aggregate exchange across union branches, so the union form
      // re-scans the fact table per pair (measured 3 scans; PlanSpec
      // pins this at 1)
      m.select(col("l_returnflag"), col("n"),
          explode(array(
            struct(lit("quantity").as("var_x"), lit("price").as("var_y"),
              corr("sq", "sp", "sqq", "spp", "sqp").as("corr")),
            struct(lit("quantity").as("var_x"), lit("discount").as("var_y"),
              corr("sq", "sd", "sqq", "sdd", "sqd").as("corr")),
            struct(lit("price").as("var_x"), lit("discount").as("var_y"),
              corr("sp", "sd", "spp", "sdd", "spd").as("corr")))).as("e"))
        .select(col("l_returnflag"), col("e.var_x").as("var_x"),
          col("e.var_y").as("var_y"), col("n"), col("e.corr").as("corr"))
        .orderBy(col("l_returnflag"), col("var_x"), col("var_y"))
    },

    // Simple OLS regression price ~ quantity per returnflag (the
    // closed-form regression every BI layer ships as regr_slope/
    // regr_intercept/regr_r2): slope, intercept, and R² from the SAME
    // one-pass exact-decimal moment aggregate as q_corr_matrix — the
    // point of both keys is that classic statistics at 100 TB is one
    // mergeable scan + driver-free closed forms, never an iterative fit.
    "q_linreg" -> { (s, d) =>
      // r20 opt: same exact long moment sums as q_corr_matrix (see its
      // comment) in place of six per-row BigDecimal products.
      val xc = round(col("l_quantity") * 100).cast("long")      // <= 5e3
      val yc = round(col("l_extendedprice") * 100).cast("long") // <= 1.05e7
      val (x, y) = (col("xc"), col("yc"))
      val m = Tables.lineitem(s, d)
        .select(col("l_returnflag"), xc.as("xc"), yc.as("yc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          exactSum(x, 1, 2).as("sx"),
          exactSum(y, 2, 2).as("sy"),
          exactSum(x * x, 2, 4).as("sxx"),
          exactSum(y * y, 3, 4).as("syy"),
          exactSum(x * y, 2, 4).as("sxy"))
      def dbl(c: String) = col(c).cast("double")
      val slope = (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
                  (dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx"))
      val r = (dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")) /
              (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
               sqrt(dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")))
      m.select(col("l_returnflag"), col("n"),
          round(slope, 4).as("slope"),
          round((dbl("sy") - slope * dbl("sx")) / dbl("n"), 4)
            .as("intercept"),
          round(r * r, 4).as("r2"))
        .orderBy(col("l_returnflag"))
    },

    // Chi-square test of independence between order priority and order
    // status (the categorical companion of q_ab_ttest): observed counts
    // from ONE hash agg over one scan; row/column margins and N are
    // windows over the ≤|priorities|×|statuses| crosstab, never the fact
    // table; χ² = Σ (o−e)²/e with expected counts e = rm·cm/N computed
    // in double over exact integer margins, in identical textual order
    // both engines. Output: the statistic, its degrees of freedom, and N
    // — one row at any scale.
    "q_chi_square" -> { (s, d) =>
      // the statistic sums over the FULL r×c grid — a structural-zero
      // cell still contributes (0−e)²/e = e; summing only observed
      // cells understates χ² whenever a combination never occurs. The
      // observed crosstab is checkpointed once and re-read by the grid
      // sides, so the fact table is scanned exactly once.
      val obs = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(eager = false)
      val grid = obs.select(col("p")).distinct()
        .crossJoin(broadcast(obs.select(col("st")).distinct()))
      val ct = grid.join(obs, Seq("p", "st"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .withColumn("rm", sum(col("o")).over(Window.partitionBy(col("p"))))
        .withColumn("cm", sum(col("o")).over(Window.partitionBy(col("st"))))
        .withColumn("n", sum(col("o")).over(Window.partitionBy()))
      val e = col("rm").cast("double") * col("cm").cast("double") /
        col("n").cast("double")
      ct.agg(
          round(sum((col("o").cast("double") - e) *
                    (col("o").cast("double") - e) / e), 4).as("chi2"),
          ((countDistinct(col("p")) - 1) *
           (countDistinct(col("st")) - 1)).as("dof"),
          max(col("n")).as("n"))
        .select(col("chi2"), col("dof"), col("n"))
    },

    // Gini concentration coefficient of customer spend per market
    // segment (the inequality metric a data audit runs on token/spend
    // distributions): per-customer exact cents totals, ranked WITHIN
    // their segment (partitioned window — never a global sort), then the
    // closed form G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over exact integer
    // sums (rank·cents rides as decimal(38,0); one double division at
    // display). Facts collapse to the customer grain before any window.
    "q_gini" -> { (s, d) =>
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
      val ranked = spend.withColumn("rk",
        row_number().over(Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("cents"), col("o_custkey"))))
      ranked.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).as("sx"),
          sum((col("rk").cast(DecimalType(19, 0)) * col("cents"))
            .cast(DecimalType(38, 0))).as("six"))
        .select(col("c_mktsegment"), col("n"),
          round((lit(2.0) * col("six").cast("double") -
                 (col("n") + 1).cast("double") * col("sx").cast("double")) /
                (col("n").cast("double") * col("sx").cast("double")), 4)
            .as("gini"))
        .orderBy(col("c_mktsegment"))
    },

    // Time-weighted average of each user's event value (the TWAP / gauge
    // aggregation of time-series systems — a plain mean over-weights
    // bursts): each reading holds until the next same-user event, weight
    // = that duration in exact integer MICROSECONDS (second-granularity
    // epoch functions disagree cross-engine on sub-second fractions —
    // floor-of-diff vs diff-of-floors — so the duration math stays at
    // the timestamp's native precision); one user_id window pass for the
    // lead, exact decimal Σ(value·dt) / exact Σdt, one display division.
    // ROC AUC of `value` as a purchase classifier score — the model-eval
    // staple, computed exactly via the rank-sum identity on the
    // SCORE-grain: rows collapse to (score, pos, neg) counts first
    // (two-phase hash agg — at 100 TB this is the only fact-sized pass),
    // then ONE prefix sum over the |distinct scores| frame gives each
    // score's count of strictly-lower negatives; AUC = Σ pos·(2·cumNeg +
    // neg) / (2·nPos·nNeg) — ties contribute the standard ½ credit via
    // the integer 2×-scaled numerator, so every sum is EXACT integer
    // arithmetic until the single display division. The global-ordered
    // sweep is the q_skyline discipline: it runs on the collapsed grain;
    // for continuous scores at corpus scale (|distinct| ≈ |rows|) the
    // documented swap is score quantization (bucket to 1e-4) or the
    // q_sort_multi range-partitioned two-pass prefix sum.
    "q_auc" -> { (s, d) =>
      val perScore = Tables.events(s, d)
        .select(col("value").as("s"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .groupBy(col("s"))
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
      val below = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      perScore
        .withColumn("cum_neg", coalesce(sum(col("neg")).over(below), lit(0L)))
        .agg(
          round(sum(col("pos") * (lit(2) * col("cum_neg") + col("neg")))
              .cast("double") /
            (lit(2) * sum(col("pos")) * sum(col("neg"))).cast("double"), 4)
            .as("auc"),
          sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
    },

    // Two-sample Kolmogorov-Smirnov distance between the purchase and
    // view value distributions — the distribution-drift test an eval
    // pipeline runs where q_ab_ttest only compares means. Same collapse-
    // then-sweep shape as q_auc: one hash agg to the pooled distinct-
    // value grain, cumulative per-group counts over ONE ordered sweep,
    // and the sup-distance kept exact by cross-multiplying (max of
    // |cum1·n2 − cum2·n1| — integers) with a single display division;
    // ks_stat is the √(n1·n2/(n1+n2))·D test statistic.
    "q_ks_test" -> { (s, d) =>
      val perV = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .groupBy(col("value").as("v"))
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
      val sweep = Window.orderBy(col("v"))
      val all = Window.partitionBy()
      val swept = perV.select(
        sum(col("c1")).over(sweep).as("cum1"),
        sum(col("c2")).over(sweep).as("cum2"),
        sum(col("c1")).over(all).as("n1"),
        sum(col("c2")).over(all).as("n2"))
      val cross = abs(col("cum1") * col("n2") - col("cum2") * col("n1"))
      swept.agg(
        round(max(cross).cast("double") /
          (max(col("n1")) * max(col("n2"))).cast("double"), 4).as("d_stat"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        round(sqrt(max(col("n1")).cast("double") * max(col("n2")) /
            (max(col("n1")) + max(col("n2")))) *
          max(cross).cast("double") /
          (max(col("n1")).cast("double") * max(col("n2"))), 4).as("ks_stat"))
    },

    // Calendar-lag autocorrelation of daily revenue (lags 1-7 days) —
    // the seasonality probe behind anomaly baselines (a strong lag-7
    // spike = weekly cycle). Facts collapse to the DAY grain first (one
    // two-phase decimal agg; the daily frame is calendar-sized, scale-
    // invariant), localCheckpointed ONCE so the lag fan-out and the
    // joined side share a single materialization; each day then pairs
    // with its lag-k predecessor via an EQUI join on date_sub (hash
    // join, broadcast right side — never a window over a global sort),
    // and per-lag Pearson terms accumulate as EXACT decimal moments
    // (n, Σx, Σy, Σxy, Σx², Σy²) with one double formula at display.
    "q_autocorr" -> { (s, d) =>
      val daily = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(dec(col("o_totalprice"))).as("r"))
        .localCheckpoint(eager = false)
      val pairs = daily
        .select(col("day"), col("r").as("x"),
          explode(sequence(lit(1), lit(7))).as("lag_days"))
        .join(broadcast(daily.select(col("day").as("day2"), col("r").as("y"))),
          col("day2") === date_sub(col("day"), col("lag_days")))
      val n = count(lit(1))
      pairs.groupBy(col("lag_days"))
        .agg(count(lit(1)).as("n"),
          round((n.cast("double") * sum(col("x") * col("y")).cast("double") -
                 sum(col("x")).cast("double") * sum(col("y")).cast("double")) /
            (sqrt(n.cast("double") * sum(col("x") * col("x")).cast("double") -
                  sum(col("x")).cast("double") * sum(col("x")).cast("double")) *
             sqrt(n.cast("double") * sum(col("y") * col("y")).cast("double") -
                  sum(col("y")).cast("double") * sum(col("y")).cast("double"))),
            4).as("autocorr"))
        .orderBy(col("lag_days"))
    },

    "q_time_weighted_avg" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .withColumn("dt",
          (unix_micros(lead(col("ts"), 1).over(w)) -
           unix_micros(col("ts"))))
        .filter(col("dt").isNotNull && col("dt") > 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt")).as("span_us"),
          round(sum((dec(col("value")) * col("dt")).cast(DecimalType(38, 2)))
              .cast("double") /
            sum(col("dt")).cast("double"), 4).as("twap"))
        .orderBy(col("user_id"))
    },

    // Root-to-node path enumeration over the binary-encoded hierarchy
    // (parent(k) = floor(k/2)) — the RECURSIVE-CTE surface demo on the
    // shape where recursion is safe: a tree is acyclic, so UNION ALL
    // recursion terminates, and BOTH engines run the SAME recursive SQL
    // (the oracle is its own Spark twin — unlike cyclic
    // q_connected_components, where Spark 4.1's UNION-ALL-only recursion
    // diverges and the engine uses pointer-doubling instead). The DSL is
    // the level-synchronous loop: each round equi-joins the key frame to
    // the previous frontier on the parent key (a hash join on node ids,
    // never fact-sized), localCheckpointed per round (GraphRank
    // discipline — the next round and the final union both read it).
    // Depth is log2(keyspace) rounds; path strings grow O(depth·digits).
    // When only AGGREGATES along the hierarchy are needed, the
    // closed-form q_hierarchy_rollup fan-out does it with no iteration.
    "q_tree_paths" -> { (s, d) =>
      val keys = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("k"))
        .filter(col("k") >= 1)
        .localCheckpoint(eager = false)
      // round count = the deepest POSSIBLE node, ⌊log2(max key)⌋, from a
      // 1-row agg — replacing a per-round isEmpty probe (a driver job per
      // level, half the key's wall time at sf0.1; the level count is the
      // arithmetic one, so probing added nothing)
      val maxK = keys.agg(max(col("k"))).head().getLong(0)
      val rounds = 63 - java.lang.Long.numberOfLeadingZeros(math.max(maxK, 1L))
      var frontier = keys.filter(col("k") === 1)
        .select(col("k").as("node"), col("k").cast("string").as("path"),
          lit(0).as("depth"))
        .localCheckpoint(eager = false)
      var acc = frontier
      for (_ <- 1 to rounds) {
        val next = keys
          .join(frontier, floor(col("k") / 2).cast("long") === col("node") &&
            col("k") > 1)
          .select(col("k").as("node"),
            concat(col("path"), lit("/"), col("k").cast("string")).as("path"),
            (col("depth") + 1).as("depth"))
          .localCheckpoint(eager = false)
        acc = acc.unionByName(next)
        frontier = next
      }
      acc.select(col("node"), col("depth"), col("path"))
        .orderBy(col("node"))
    }
  )

  private val PrIters = 8
  private val PrDamping = 0.85

  /** Poisson(1) CDF at k = 0..5 — the inverse-CDF thresholds for the
    * deterministic Poisson bootstrap (w = first k with u < cdf(k), capped
    * at 6; the cap truncates 0.06 % of the tail identically in both
    * engines). SINGLE SOURCE for the DSL, the oracle, and the dialect
    * twin: the literals must be textually identical or the engines could
    * bucket a u on the boundary differently. */
  private[graft] val PoisCdf: Seq[Double] = {
    val probs = Seq.iterate((0, math.exp(-1.0)), 6) {
      case (k, p) => (k + 1, p / (k + 1))
    }.map(_._2)
    probs.scanLeft(0.0)(_ + _).tail
  }

  /** `CASE WHEN u < cdf0 THEN 0 ... ELSE 6 END` over a column named `u`
    * (portable SQL text, generated from [[PoisCdf]]). */
  private[graft] def poisCaseSql: String =
    PoisCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")

  /** Shared edge CTEs for the q_pagerank oracle/twin (GROUP BY ordinals
    * and UNION ALL are portable across both dialects). */
  private val PrEdgeCtePre =
    """le AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
               count(*) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2)"""
  private val PrEdgeCte =
    "SELECT src, dst, w FROM le UNION ALL SELECT dst, src, w FROM le"
  // final CTE name derived from PrIters — a hardcoded r8 would silently
  // desync the oracle from the DSL if the iteration count ever changes
  private val PrSelect =
    s"""SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             CAST((node - node % 2) / 2 AS BIGINT) AS node_key,
             round(r, 8) AS pr
      FROM r$PrIters ORDER BY pr DESC, kind, node_key LIMIT 20"""

  /** Gap-based sessionization (q_sessionize semantics): expects
    * (user_id, event_id, value, sec) rows; a new session opens when the
    * same-user gap STRICTLY exceeds `gapSec`. The conditional-cumsum
    * chain — lag → flag → running sum = session id — and the per-session
    * rollup all share one HashPartitioning(user_id) (the
    * (user_id, sess_id) groupBy's clustered distribution is satisfied by
    * the subset key; PlanSpec pins the single exchange). Returns one row
    * per session: counts, epoch-second bounds, exact-decimal value sum. */
  def sessionize(events: DataFrame, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("event_id"))
    events
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > gapSec, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("sec")).as("start_sec"),
           max(col("sec")).as("end_sec"),
           (max(col("sec")) - min(col("sec"))).as("dur_sec"),
           outd(sum(dec(col("value")))).as("sum_value"))
  }

  def oracles: Map[String, String] = Map(
    "q_funnel" -> """
      WITH per_user AS (
        SELECT user_id,
          min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
          min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
          min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        FROM events
        WHERE event_type IN ('signup', 'view', 'purchase')
        GROUP BY user_id),
      c AS (
        SELECT count(t1) AS c1,
               count(CASE WHEN t1 < t2 THEN 1 END) AS c2,
               count(CASE WHEN t1 < t2 AND t2 < t3 THEN 1 END) AS c3
        FROM per_user)
      SELECT '1_signup' AS step, c1 AS n_users FROM c
      UNION ALL SELECT '2_view', c2 FROM c
      UNION ALL SELECT '3_purchase', c3 FROM c
      ORDER BY step""",

    "q_retention" -> """
      WITH activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events),
      cohort AS (
        SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id)
      SELECT c.cohort_day,
             CAST(date_diff('day', c.cohort_day, a.day) AS INT) AS day_offset,
             count(DISTINCT a.user_id) AS n_users
      FROM activity a JOIN cohort c USING (user_id)
      GROUP BY 1, 2
      ORDER BY cohort_day, day_offset""",

    "q_anomaly_zscore" -> """
      WITH stats AS (
        SELECT event_type,
          CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
          sqrt(CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE)
                 / count(*)
               - pow(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       / count(*), 2)) AS sd
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.event_type, e.value,
             round((e.value - s.mean) / s.sd, 4) AS z
      FROM events e JOIN stats s USING (event_type)
      WHERE s.sd > 0 AND abs(round((e.value - s.mean) / s.sd, 4)) > 2.5
      ORDER BY event_type, event_id""",

    "q_histogram" -> """
      WITH binned AS (
        SELECT l_extendedprice AS p,
          CAST(least(floor(CAST(round(l_extendedprice * 100) AS BIGINT)
                             / 1200000.0), 9) AS INT) AS bin
        FROM lineitem)
      SELECT bin, CAST(bin AS BIGINT) * 12000 AS bin_lo, count(*) AS n,
             min(p) AS min_price, max(p) AS max_price
      FROM binned GROUP BY bin ORDER BY bin""",

    "q_tfidf" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
      tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT t.doc_id, t.word,
          round((t.tf / CAST(d.dl AS DOUBLE)) *
                ln(n.n_docs / CAST(f.df AS DOUBLE)), 4) AS tfidf
        FROM tf t JOIN dl d USING (doc_id) JOIN df f USING (word), n)
      SELECT doc_id, CAST(rn AS INT) AS rn, word, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, word) AS rn
        FROM scored)
      WHERE rn <= 3
      ORDER BY doc_id, rn""",

    "q_bm25" -> """
      WITH hits AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split(text, ' '),
                               x -> x = 'spark')) AS INT) AS tf,
          CAST(len(string_split(text, ' ')) AS INT) AS dl
        FROM documents),
      corpus AS (
        SELECT count(*) AS n_docs,
               avg(len(string_split(text, ' '))) AS avgdl
        FROM documents),
      dft AS (SELECT count(*) AS df_t FROM hits WHERE tf > 0)
      SELECT h.doc_id, h.tf, h.dl,
        round(ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5)) *
              (h.tf * CAST(2.2 AS DOUBLE)) /
              (h.tf + CAST(1.2 AS DOUBLE) *
                (CAST(0.25 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) * h.dl / c.avgdl)), 4) AS bm25
      FROM hits h, corpus c, dft d
      WHERE h.tf > 0
      ORDER BY bm25 DESC, doc_id""",

    "q_interpolate" -> """
      WITH s AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
               sum(CAST(value AS DECIMAL(18,2))) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      spine AS (
        SELECT unnest(generate_series((SELECT min(h) FROM s),
                                      (SELECT max(h) FROM s),
                                      INTERVAL '1 hour')) AS h),
      j AS (SELECT spine.h, s.v FROM spine LEFT JOIN s USING (h)),
      m AS (
        SELECT h, v,
          last_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER wp AS pv,
          last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
            OVER wp AS ph,
          first_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER wn AS nv,
          first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
            OVER wn AS nh
        FROM j WINDOW
          wp AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wn AS (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT h AS win_h, (v IS NULL) AS is_gap,
        round(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
          ELSE pv + (nv - pv) * (epoch(h) - epoch(ph))
                 / (epoch(nh) - epoch(ph)) END, 4) AS v_filled
      FROM m ORDER BY win_h""",

    "q_table_checksum" -> ("""
      WITH r AS (
        SELECT l_returnflag, """ + graft.ops.PipelineOps.h60Sql(
          "concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
          "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR), " +
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), " +
          "l_returnflag, l_linestatus, epoch_us(l_shipdate))") + """ AS rh
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, bit_xor(rh) AS xor_h,
             min(rh) AS min_h, max(rh) AS max_h
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag""") ,

    // epoch_us // 1000000 floors to seconds exactly like Spark's
    // timestamp→long cast (both engines see micros precision on ts).
    "q_sessionize" -> """
      WITH e AS (
        SELECT user_id, event_id, value,
               epoch_us(ts) // 1000000 AS sec
        FROM events),
      f AS (
        SELECT user_id, event_id, value, sec,
          CASE WHEN sec - lag(sec) OVER w IS NULL
                 OR sec - lag(sec) OVER w > 14400 THEN 1 ELSE 0 END
            AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      g AS (
        SELECT user_id, value, sec,
          CAST(sum(new_sess) OVER (PARTITION BY user_id
            ORDER BY sec, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS sess_id
        FROM f)
      SELECT user_id, sess_id, count(1) AS n_events,
             min(sec) AS start_sec, max(sec) AS end_sec,
             max(sec) - min(sec) AS dur_sec,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
               AS sum_value
      FROM g GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",

    // float math confined to the final ln, identical textual op order in
    // both engines, rounded at output; everything upstream is integer.
    "q_pmi_bigrams" -> """
      WITH words AS (
        SELECT string_split(text, ' ') AS w FROM documents),
      uni AS (
        SELECT u AS word, count(*) AS c
        FROM (SELECT unnest(w) AS u FROM words) GROUP BY u),
      tot_uni AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
      bi AS (
        SELECT p['w1'] AS w1, p['w2'] AS w2, count(*) AS c_xy FROM (
          SELECT unnest(list_transform(range(1, len(w)),
            i -> {'w1': w[CAST(i AS INT)], 'w2': w[CAST(i AS INT) + 1]}))
            AS p
          FROM words WHERE len(w) >= 2)
        GROUP BY 1, 2),
      tot_bi AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n_bi FROM bi)
      SELECT b.w1, b.w2, b.c_xy,
             round(ln(CAST(b.c_xy AS DOUBLE) * n_uni * n_uni
               / (n_bi * u1.c * u2.c)), 4) AS pmi
      FROM bi b
      JOIN uni u1 ON u1.word = b.w1
      JOIN uni u2 ON u2.word = b.w2, tot_uni, tot_bi
      WHERE b.c_xy >= 5
      ORDER BY pmi DESC, b.w1, b.w2
      LIMIT 20""",

    // Portable SQL (valid in BOTH engines → SqlParityKeys.oracleReuse).
    "q_event_transitions" -> """
      WITH pairs AS (
        SELECT event_type,
          lead(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS next_type
        FROM events),
      c AS (
        SELECT event_type, next_type, count(*) AS n
        FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
      SELECT event_type, next_type, n,
             round(CAST(n AS DOUBLE) /
                   sum(n) OVER (PARTITION BY event_type), 4) AS p
      FROM c ORDER BY event_type, next_type""",

    "q_rfm" -> """
      WITH base AS (
        SELECT o_custkey AS custkey, max(o_orderdate) AS last_order,
               count(*) AS frequency,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE), 4) AS monetary
        FROM orders GROUP BY 1),
      s AS (
        SELECT custkey, last_order, frequency, monetary,
          CAST(ntile(4) OVER (ORDER BY last_order DESC, custkey) AS INT)
            AS r_score,
          CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS INT)
            AS f_score,
          CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INT)
            AS m_score
        FROM base)
      SELECT custkey, last_order, frequency, monetary,
             r_score, f_score, m_score,
             CASE WHEN r_score = 1 AND f_score = 1 THEN 'champion'
                  WHEN r_score <= 2 AND f_score <= 2 THEN 'loyal'
                  WHEN r_score >= 3 AND f_score <= 2 THEN 'at_risk'
                  ELSE 'other' END AS segment
      FROM s ORDER BY custkey""",

    "q_anomaly_mad" -> """
      WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1),
      mad AS (
        SELECT e.event_type, m.med,
               median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type) GROUP BY 1, 2)
      SELECT e.event_id, e.event_type, e.value, s.med, s.mad,
             round((e.value - s.med) / (CAST(1.4826 AS DOUBLE) * s.mad), 4)
               AS score
      FROM events e JOIN mad s USING (event_type)
      WHERE s.mad > 0
        AND abs(round((e.value - s.med) /
                      (CAST(1.4826 AS DOUBLE) * s.mad), 4)) > 3.0
      ORDER BY event_type, event_id""",

    // DuckDB dialect (date_diff 3-arg); Spark twin in SqlDialectTwins.
    "q_gaps_islands" -> """
      WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      n AS (
        SELECT user_id, day,
               date_diff('day', DATE '2024-01-01', day) AS dn
        FROM act),
      g AS (
        SELECT user_id, day, dn,
               dn - row_number() OVER (PARTITION BY user_id ORDER BY dn)
                 AS grp
        FROM n)
      SELECT user_id, min(day) AS streak_start, max(day) AS streak_end,
             CAST(count(*) AS INT) AS streak_days
      FROM g GROUP BY user_id, grp
      ORDER BY user_id, streak_start""",

    // Portable (DuckDB ∩ Spark): the unrolled power-method recurrence —
    // its own Spark twin via SqlOracleReuseSpec.
    "q_pagerank" -> GraphRank.pagerankSql(
      PrEdgeCtePre, PrEdgeCte, PrIters, PrDamping, PrSelect),

    // DuckDB dialect (date_diff 3-arg); Spark twin in SqlDialectTwins.
    "q_rolling_corr" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                 AS dn,
               count(*) AS x,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS DECIMAL(19,0)) AS y
        FROM orders GROUP BY 1, 2),
      sums AS (
        SELECT day,
          count(*) OVER w AS n,
          sum(x) OVER w AS sx,
          sum(y) OVER w AS sy,
          sum(CAST(x AS DECIMAL(10,0)) * y) OVER w AS sxy,
          sum(x * x) OVER w AS sxx,
          sum(y * y) OVER w AS syy
        FROM daily
        WINDOW w AS (ORDER BY dn RANGE BETWEEN 13 PRECEDING AND CURRENT ROW))
      SELECT day, CAST(n AS INT) AS n_days,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
               CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                    CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4) AS corr14
      FROM sums
      WHERE n >= 8
        AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
            CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      ORDER BY day""",

    // DuckDB dialect (range table fn + md5-prefix idiom); Spark twin in
    // SqlDialectTwins.
    "q_bootstrap_ci" -> s"""
      WITH h AS (
        SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                 % 4294967296 AS h32,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      reps AS (
        SELECT h32, cents, t.b FROM h, range(0, 32) t(b)),
      uu AS (
        SELECT b, cents,
          CAST((h32 * (b * 2 + 3) + b * 2654435761) % 2147483647 + 1
               AS DOUBLE) / CAST(2147483647 AS DOUBLE) AS u
        FROM reps),
      ww AS (
        SELECT b, cents, $poisCaseSql AS w FROM uu),
      agg AS (
        SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
               sum(CAST(w * cents AS DECIMAL(19,0))) AS s
        FROM ww GROUP BY b),
      stats AS (
        SELECT CAST(b AS INT) AS b, n_eff,
               round(CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE), 6)
                 AS mean_price
        FROM agg WHERE n_eff > 0)
      SELECT b, n_eff, mean_price,
             CAST(row_number() OVER (ORDER BY mean_price, b) AS INT) AS rk
      FROM stats ORDER BY b""",

    // DuckDB dialect (IGNORE NULLS inside the call parens); Spark twin
    // in SqlDialectTwins.
    "q_attribution" -> """
      WITH t AS (
        SELECT event_type, value,
          last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                     IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM events)
      SELECT coalesce(touch, 'direct') AS touch_type,
             count(*) AS n_purchases,
             round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
               AS total_value
      FROM t WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY touch_type""",

    // Portable SQL (valid in BOTH engines -> SqlParityKeys.oracleReuse).
    "q_ewma" -> """
      WITH r AS (
        SELECT user_id, value,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS rn,
          count(*) OVER (PARTITION BY user_id) AS mx
        FROM events)
      SELECT user_id, CAST(count(*) AS INT) AS n_window,
        round(CAST(sum(CAST(value * power(0.5, CAST(mx - rn AS DOUBLE))
                            AS DECIMAL(28,10))) AS DOUBLE) /
              CAST(sum(CAST(power(0.5, CAST(mx - rn AS DOUBLE))
                            AS DECIMAL(28,10))) AS DOUBLE), 4) AS ewma
      FROM r WHERE rn > mx - 20
      GROUP BY user_id ORDER BY user_id""",

    "q_changepoint" -> """
      WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               sum(CAST(value AS DECIMAL(18,2))) AS x
        FROM events GROUP BY 1, 2),
      c AS (
        SELECT event_type, day,
          row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
          sum(x) OVER (PARTITION BY event_type ORDER BY day) AS cx,
          count(*) OVER (PARTITION BY event_type) AS n,
          sum(x) OVER (PARTITION BY event_type) AS tot
        FROM daily),
      s AS (
        SELECT event_type, day, i, n, n * cx - i * tot AS sdev,
          row_number() OVER (PARTITION BY event_type
                             ORDER BY abs(n * cx - i * tot) DESC, day) AS rk
        FROM c)
      SELECT event_type, day AS cp_day, CAST(i AS INT) AS day_idx,
             round(CAST(sdev AS DOUBLE) / CAST(n AS DOUBLE), 4)
               AS peak_cusum
      FROM s WHERE rk = 1 ORDER BY event_type""",

    "q_bfs_hops" -> """
      WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      seed AS (
        SELECT c_custkey AS c FROM customer WHERE c_nationkey = 0),
      h1 AS (
        SELECT DISTINCT sup FROM edges JOIN seed USING (c)),
      h2 AS (
        SELECT DISTINCT c FROM edges JOIN h1 USING (sup)
        EXCEPT SELECT c FROM seed),
      h3 AS (
        SELECT DISTINCT sup FROM edges JOIN h2 USING (c)
        EXCEPT SELECT sup FROM h1)
      SELECT kind, node_key, hops FROM (
        SELECT 'customer' AS kind, c AS node_key, 0 AS hops FROM seed
        UNION ALL SELECT 'supplier', sup, 1 FROM h1
        UNION ALL SELECT 'customer', c, 2 FROM h2
        UNION ALL SELECT 'supplier', sup, 3 FROM h3)
      ORDER BY hops, kind, node_key""",

    "q_path_mining" -> """
      WITH tri AS (
        SELECT user_id, event_type AS t1,
          lead(event_type, 1) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t2,
          lead(event_type, 2) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t3
        FROM events)
      SELECT concat(t1, '>', t2, '>', t3) AS path,
             count(*) AS n, count(DISTINCT user_id) AS n_users
      FROM tri WHERE t3 IS NOT NULL
      GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",

    "q_degree_dist" -> """
      WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      cd AS (SELECT c, count(*) AS degree FROM edges GROUP BY c),
      sd AS (SELECT sup, count(*) AS degree FROM edges GROUP BY sup)
      SELECT side, degree, n_nodes FROM (
        SELECT 'customer' AS side, degree, count(*) AS n_nodes
        FROM cd GROUP BY degree
        UNION ALL
        SELECT 'supplier' AS side, degree, count(*) AS n_nodes
        FROM sd GROUP BY degree)
      ORDER BY side, degree""",

    "q_funnel_window" -> """
      WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view'
          AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL '48' HOUR
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= s2.t2 AND e.ts <= s2.t2 + INTERVAL '48' HOUR
        GROUP BY e.user_id)
      SELECT step, n_users FROM (
        SELECT '1_signup' AS step, count(*) AS n_users FROM s1
        UNION ALL SELECT '2_view_48h', count(*) FROM s2
        UNION ALL SELECT '3_purchase_48h', count(*) FROM s3)
      ORDER BY step""",

    "q_basket_lift" -> """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
        FROM lineitem),
      supp AS (
        SELECT part, count(*) AS s FROM items GROUP BY part
        HAVING count(*) >= 5),
      freq AS (
        SELECT i.okey, i.part FROM items i JOIN supp USING (part)),
      nb AS (
        SELECT count(DISTINCT okey) AS n_baskets FROM items),
      pairs AS (
        SELECT x.part AS a, y.part AS b, count(*) AS c_ab
        FROM freq x JOIN freq y ON x.okey = y.okey AND x.part < y.part
        GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT a, b, c_ab, sa.s AS s_a, sb.s AS s_b,
        round(CAST(c_ab AS DOUBLE) * CAST(n_baskets AS DOUBLE) /
              (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 4) AS lift,
        round(CAST(c_ab AS DOUBLE) / CAST(sa.s AS DOUBLE), 4) AS confidence
      FROM pairs
      JOIN supp sa ON sa.part = a
      JOIN supp sb ON sb.part = b, nb
      ORDER BY lift DESC, a, b LIMIT 20""",

    "q_ab_ttest" -> """
      WITH m AS (
        SELECT event_type,
          CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
          CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b,
          sum(CASE WHEN user_id % 2 = 0
              THEN CAST(value AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_a,
          sum(CASE WHEN user_id % 2 <> 0
              THEN CAST(value AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS sx_b,
          sum(CASE WHEN user_id % 2 = 0
              THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(37,4)) END) AS sxx_a,
          sum(CASE WHEN user_id % 2 <> 0
              THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
              ELSE CAST(0 AS DECIMAL(37,4)) END) AS sxx_b
        FROM events GROUP BY event_type),
      t AS (
        SELECT event_type, n_a, n_b,
          CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
          CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
          (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
             / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1)
             / CAST(n_a AS DOUBLE) AS sea,
          (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
             / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1)
             / CAST(n_b AS DOUBLE) AS seb
        FROM m WHERE n_a >= 2 AND n_b >= 2)
      SELECT event_type, n_a, n_b,
        round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
        round((sea + seb) * (sea + seb) /
              (sea * sea / (CAST(n_a AS DOUBLE) - 1) +
               seb * seb / (CAST(n_b AS DOUBLE) - 1)), 4) AS df
      FROM t ORDER BY event_type""",

    "q_corr_matrix" -> """
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
          sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
          sum(CAST(l_discount AS DECIMAL(18,2))) AS sd,
          sum(CAST(l_quantity AS DECIMAL(18,2)) *
              CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
          sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
          sum(CAST(l_discount AS DECIMAL(18,2)) *
              CAST(l_discount AS DECIMAL(18,2))) AS sdd,
          sum(CAST(l_quantity AS DECIMAL(18,2)) *
              CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp,
          sum(CAST(l_quantity AS DECIMAL(18,2)) *
              CAST(l_discount AS DECIMAL(18,2))) AS sqd,
          sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(l_discount AS DECIMAL(18,2))) AS spd
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, var_x, var_y, n, corr FROM (
        SELECT l_returnflag, 'quantity' AS var_x, 'price' AS var_y, n,
          round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
                (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
                 sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 4)
            AS corr
        FROM m
        UNION ALL
        SELECT l_returnflag, 'quantity', 'discount', n,
          round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
                 - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE)) /
                (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)) *
                 sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 4)
        FROM m
        UNION ALL
        SELECT l_returnflag, 'price', 'discount', n,
          round((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE)
                 - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE)) /
                (sqrt(CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)) *
                 sqrt(CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 4)
        FROM m)
      ORDER BY l_returnflag, var_x, var_y""",

    "q_linreg" -> """
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
          sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          sum(CAST(l_quantity AS DECIMAL(18,2)) *
              CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
          sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
              CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
          sum(CAST(l_quantity AS DECIMAL(18,2)) *
              CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
        round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope,
        round((CAST(sy AS DOUBLE) -
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4) AS intercept,
        round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) *
              ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))), 4)
          AS r2
      FROM m ORDER BY l_returnflag""",

    "q_chi_square" -> """
      WITH obs AS (
        SELECT o_orderpriority AS p, o_orderstatus AS st,
               count(*) AS o
        FROM orders GROUP BY 1, 2),
      grid AS (
        SELECT p, st
        FROM (SELECT DISTINCT p FROM obs)
        CROSS JOIN (SELECT DISTINCT st FROM obs)),
      ct AS (
        SELECT g.p, g.st, coalesce(o.o, 0) AS o
        FROM grid g LEFT JOIN obs o ON g.p = o.p AND g.st = o.st),
      m AS (
        SELECT p, st, o,
          sum(o) OVER (PARTITION BY p) AS rm,
          sum(o) OVER (PARTITION BY st) AS cm,
          sum(o) OVER () AS n
        FROM ct)
      SELECT
        round(sum((CAST(o AS DOUBLE) -
                   CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                     / CAST(n AS DOUBLE)) *
                  (CAST(o AS DOUBLE) -
                   CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                     / CAST(n AS DOUBLE)) /
                  (CAST(rm AS DOUBLE) * CAST(cm AS DOUBLE)
                     / CAST(n AS DOUBLE))), 4) AS chi2,
        (count(DISTINCT p) - 1) * (count(DISTINCT st) - 1) AS dof,
        CAST(max(n) AS BIGINT) AS n
      FROM m""",

    "q_gini" -> """
      WITH spend AS (
        SELECT o_custkey, c_mktsegment,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      r AS (
        SELECT c_mktsegment, cents,
          row_number() OVER (PARTITION BY c_mktsegment
                             ORDER BY cents, o_custkey) AS rk
        FROM spend)
      SELECT c_mktsegment, count(*) AS n,
        round((2.0 * CAST(sum(CAST(CAST(rk AS DECIMAL(19,0)) * cents
                                   AS DECIMAL(38,0))) AS DOUBLE) -
               CAST(count(*) + 1 AS DOUBLE) *
               CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)) /
              (CAST(count(*) AS DOUBLE) *
               CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)), 4)
          AS gini
      FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // DuckDB dialect (epoch_us()); Spark twin (unix_micros) in
    // SqlDialectTwins.
    // Portable (DuckDB ∩ Spark) — its own Spark twin via
    // SqlOracleReuseSpec; exact integer rank-sum until the one division.
    "q_auc" -> """
      WITH scored AS (
        SELECT value AS s,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events),
      per_score AS (
        SELECT s, CAST(sum(y) AS BIGINT) AS pos,
               CAST(count(*) - sum(y) AS BIGINT) AS neg
        FROM scored GROUP BY s),
      swept AS (
        SELECT pos, neg,
          coalesce(sum(neg) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
        FROM per_score)
      SELECT
        round(CAST(sum(pos * (2 * cum_neg + neg)) AS DOUBLE) /
              CAST(2 * sum(pos) * sum(neg) AS DOUBLE), 4) AS auc,
        CAST(sum(pos) AS BIGINT) AS n_pos,
        CAST(sum(neg) AS BIGINT) AS n_neg
      FROM swept""",

    // Portable (DuckDB ∩ Spark) — its own Spark twin; sup-distance kept
    // exact by cross-multiplying before the display division.
    "q_ks_test" -> """
      WITH g AS (
        SELECT value AS v,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in1,
          CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS in2
        FROM events WHERE event_type IN ('purchase', 'view')),
      per_v AS (
        SELECT v, CAST(sum(in1) AS BIGINT) AS c1,
               CAST(sum(in2) AS BIGINT) AS c2
        FROM g GROUP BY v),
      swept AS (
        SELECT
          sum(c1) OVER (ORDER BY v) AS cum1,
          sum(c2) OVER (ORDER BY v) AS cum2,
          sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
        FROM per_v)
      SELECT
        round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE) /
              CAST(max(n1) * max(n2) AS DOUBLE), 4) AS d_stat,
        CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        round(sqrt(CAST(max(n1) AS DOUBLE) * max(n2) / (max(n1) + max(n2))) *
              CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE) /
              (CAST(max(n1) AS DOUBLE) * max(n2)), 4) AS ks_stat
      FROM swept""",

    // DuckDB dialect (unnest(range), date-int arithmetic); Spark twin in
    // SqlDialectTwins.
    "q_autocorr" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
        FROM orders GROUP BY 1),
      lags AS (SELECT unnest(range(1, 8)) AS lag_days),
      pairs AS (
        SELECT l.lag_days, a.r AS x, b.r AS y
        FROM daily a JOIN lags l ON true
        JOIN daily b ON b.day = a.day - CAST(l.lag_days AS INT)),
      m AS (
        SELECT lag_days, CAST(count(*) AS BIGINT) AS n,
          sum(x) AS sx, sum(y) AS sy,
          sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        FROM pairs GROUP BY lag_days)
      SELECT lag_days, n,
        round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
               sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
          AS autocorr
      FROM m ORDER BY lag_days""",

    "q_time_weighted_avg" -> """
      WITH dt AS (
        SELECT user_id, value,
          epoch_us(lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id))
            - epoch_us(ts) AS dt
        FROM events)
      SELECT user_id, count(*) AS n_intervals,
        CAST(sum(dt) AS BIGINT) AS span_us,
        round(CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * dt
                            AS DECIMAL(38,2))) AS DOUBLE) /
              CAST(sum(dt) AS DOUBLE), 4) AS twap
      FROM dt WHERE dt IS NOT NULL AND dt > 0
      GROUP BY user_id ORDER BY user_id""",

    // Portable — WITH RECURSIVE + UNION ALL runs IDENTICALLY in DuckDB
    // and Spark 4.1 on this acyclic shape (its own Spark twin via
    // SqlOracleReuseSpec, which is the point of the key: the engine's
    // recursive-CTE surface, exercised where it is semantically safe).
    "q_tree_paths" -> """
      WITH RECURSIVE t AS (
        SELECT CAST(c_custkey AS BIGINT) AS node,
               CAST(c_custkey AS STRING) AS path, CAST(0 AS INT) AS depth
        FROM customer WHERE c_custkey = 1
        UNION ALL
        SELECT CAST(c.c_custkey AS BIGINT),
               concat(t.path, '/', CAST(c.c_custkey AS STRING)),
               CAST(t.depth + 1 AS INT)
        FROM customer c JOIN t ON CAST(floor(c.c_custkey / 2) AS BIGINT) = t.node
        WHERE c.c_custkey > 1)
      SELECT node, depth, path FROM t ORDER BY node"""
  )
}
