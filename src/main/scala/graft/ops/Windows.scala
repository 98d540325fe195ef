package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.B "Window functions": ranking, analytic (lag/lead/first/
  * last), ROWS frames, RANGE frames, running totals.
  *
  * Scale notes: every window here is partitioned (mktsegment / user_id /
  * orderkey / brand / custkey) — one shuffle by partition key, per-partition
  * sort, no global single-partition window anywhere. Order keys always end
  * in a unique column so frames are total-ordered (hash-stable vs oracle).
  */
object Windows extends QueryPack {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // row_number / rank / dense_rank / ntile over segment by balance.
    "q_window_rank" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
                row_number().over(w).as("rn"),
                rank().over(w).as("rnk"),
                dense_rank().over(w).as("drnk"),
                ntile(4).over(w).as("quartile"))
        .orderBy(col("c_custkey"))
    },

    // lag / lead / first_value / last_value over each user's event stream.
    "q_window_analytic" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
                lag(col("value"), 1).over(w).as("prev_value"),
                lead(col("value"), 1).over(w).as("next_value"),
                first(col("value")).over(w).as("first_value"),
                last(col("value")).over(wAll).as("last_value"))
        .orderBy(col("event_id"))
    },

    // Moving sum/avg over a 3-row window within each order. Fixture
    // (l_orderkey, l_linenumber) is NOT unique, so the order key extends to
    // (extendedprice, partkey, suppkey) — unique in the fixture — to keep
    // frame contents identical between engines.
    // r20 opt (the q_corr_matrix long-chunk discipline, window form): the
    // sliding decimal sum re-added 3 byte-backed decimals per row —
    // quantity sums exactly as LONG CENTS instead (the frame is 3 rows,
    // so the sum is ≤ 1.5e4 at ANY scale — no chunking needed), and the
    // cents→value shift happens in double, which is exact here (integer
    // ≤ 2^53, one correctly-rounded division — the same double the
    // decimal cast produced).
    "q_window_frame_rows" -> { (s, d) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_extendedprice"),
                 col("l_partkey"), col("l_suppkey"))
        .rowsBetween(-2, Window.currentRow)
      val qc = round(col("l_quantity") * 100).cast("long")
      val movSum = sum(qc).over(w).cast("double") / 100
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
                round(movSum, 4).as("mov_sum"),
                round(movSum / count(lit(1)).over(w), 4).as("mov_avg"),
                count(lit(1)).over(w).as("mov_n"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
                 col("l_partkey"), col("l_suppkey"))
    },

    // RANGE frame on a numeric order key: all parts within 5 size units.
    "q_window_frame_range" -> { (s, d) =>
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_size"))
        .rangeBetween(-5, Window.currentRow)
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
                outd(sum(dec(col("p_retailprice"))).over(w)).as("rng_sum"),
                count(lit(1)).over(w).as("rng_n"))
        .orderBy(col("p_partkey"))
    },

    // IGNORE NULLS analytics: the gap-filling idiom (carry the last known
    // reading over rows whose measurement is missing). Nulls are derived
    // deterministically — 'error' events have no usable value — so both
    // engines see the identical null mask.
    "q_window_ignore_nulls" -> { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("v",
          when(col("event_type") === "error", lit(null).cast("double"))
            .otherwise(col("value")))
        .select(col("event_id"), col("user_id"), col("v"),
                lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"),
                lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_v"),
                first(col("v"), ignoreNulls = true).over(w).as("first_v"),
                last(col("v"), ignoreNulls = true).over(w).as("carry_v"))
        .orderBy(col("event_id"))
    },

    // Classic running total per customer ordered by order date.
    "q_window_running" -> { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
                count(lit(1)).over(w).as("run_n"),
                outd(sum(dec(col("o_totalprice"))).over(w)).as("run_total"))
        .orderBy(col("o_orderkey"))
    },

    // Distribution analytics: percent_rank / cume_dist / nth_value per
    // segment. The (acctbal, custkey) order key is a TOTAL order, so no
    // peer groups exist and both engines' distribution functions agree
    // bit-for-bit: each is one division of identical integers — emitted
    // UNROUNDED on purpose (rounding could only introduce a tie-break
    // divergence; the raw doubles are already identical).
    "q_window_percent" -> { (s, d) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
                percent_rank().over(w).as("pct_rank"),
                cume_dist().over(w).as("cume"),
                nth_value(col("c_custkey"), 3).over(w).as("third_key"))
        .orderBy(col("c_custkey"))
    },

    // Windowed DISTINCT count — trailing-7-day distinct active users per
    // event type (the rolling-DAU/WAU primitive). Spark has no
    // count(DISTINCT) over a window; the shipped form is the EXACT
    // first-appearance DELTA algebra ([[windowCountDistinctDeltas]]):
    // per-user activity days merge into coverage intervals, each interval
    // contributes +1/−1 deltas, and the trailing count is a prefix sum
    // over the CALENDAR-bounded (type, day) grain — no per-row set state
    // anywhere. Promoted to the contract key in r16 after the sf1 gate
    // measured the pedagogical size(collect_set)-over-RANGE-frame form
    // ([[windowCountDistinctSets]]) at 12× cost for 10× data (its state
    // is O(distinct users in frame) PER ROW); the swap is row-for-row
    // equal (AggSwapSpec) and 8.3 → 1.1 s at sf1.
    "q_window_count_distinct" -> { (s, d) => windowCountDistinctDeltas(s, d) }
  )

  /** The pedagogical set form of q_window_count_distinct — what a user
    * coming from "COUNT(DISTINCT) OVER" writes first: size(collect_set)
    * over a RANGE frame on day number, run on the activity frame already
    * collapsed to DISTINCT (type, day, user) rows. Kept as the documented
    * alternate and the AggSwapSpec equality witness; NOT the contract key
    * since r16, because its per-row set state is O(users in window) and
    * the r15 sf1 gate measured it superlinear (12× at 10× data). */
  def windowCountDistinctSets(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("dn")).rangeBetween(-6, 0)
    act
      .withColumn("dn", datediff(col("day"), lit("2024-01-01").cast("date")))
      .withColumn("u7", size(collect_set(col("user_id")).over(w)).cast("long"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("u1"), max(col("u7")).as("u7"))
      .orderBy(col("event_type"), col("day"))
  }

  /** The contract-key form of q_window_count_distinct (promoted r16; the
    * r15 sf1 full-bench gate measured the set form at 12×/10× data): the
    * `collect_set` over a RANGE frame rebuilds an O(users-in-window) set
    * PER ROW inside |event_type| partitions — quadratic in users per
    * window and serialized on a handful of partitions. The
    * first-appearance DELTA form is EXACT (not a sketch): a user's
    * activity days merge into covered intervals ([a, a+6] unioned when
    * gaps ≤ 6), each interval contributes +1 at its start day and −1 the
    * day after it expires; per-(type, day) delta sums are an ordinary
    * mergeable hash agg, and the prefix sum runs over the
    * CALENDAR-bounded (type, day) grain — scale-invariant window, no set
    * state anywhere. Same output schema and values as the key
    * (AggSwapSpec pins row-for-row equality). */
  def windowCountDistinctDeltas(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .withColumn("dn", datediff(col("day"), lit("2024-01-01").cast("date")))
    // per-(type, user) interval edges: ±1 deltas from two lag/lead probes
    // over bounded per-user activity-day lists
    val wu = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("dn"))
    val edges = act
      .withColumn("prev", lag(col("dn"), 1).over(wu))
      .withColumn("next", lead(col("dn"), 1).over(wu))
      .select(col("event_type"), col("dn"),
        when(col("prev").isNull || col("dn") - col("prev") > 6, 1L)
          .otherwise(0L).as("start"),
        when(col("next").isNull || col("next") - col("dn") > 6, 1L)
          .otherwise(0L).as("end"))
    val deltas = edges.filter(col("start") === 1)
        .select(col("event_type"), col("dn"), lit(1L).as("delta"))
      .unionByName(edges.filter(col("end") === 1)
        .select(col("event_type"), (col("dn") + 7).as("dn"),
          lit(-1L).as("delta")))
    // per-day distinct actives (u1) double as the 0-delta anchor rows so
    // every output day reads its running value
    val days = act.groupBy(col("event_type"), col("day"), col("dn"))
      .agg(count(lit(1)).as("u1"))
    val merged = deltas
      .unionByName(days.select(col("event_type"), col("dn"),
        lit(0L).as("delta")))
      .groupBy(col("event_type"), col("dn"))
      .agg(sum(col("delta")).as("delta"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("dn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = merged
      .withColumn("u7", sum(col("delta")).over(wRun))
      .select(col("event_type"), col("dn"), col("u7"))
    days.join(running, Seq("event_type", "dn"))
      .select(col("event_type"), col("day"), col("u1"), col("u7"))
      .orderBy(col("event_type"), col("day"))
  }

  def oracles: Map[String, String] = Map(
    "q_window_percent" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        nth_value(c_custkey, 3) OVER w AS third_key
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey""",

    "q_window_rank" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(row_number() OVER w AS INT) AS rn,
        CAST(rank() OVER w AS INT) AS rnk,
        CAST(dense_rank() OVER w AS INT) AS drnk,
        CAST(ntile(4) OVER w AS INT) AS quartile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      ORDER BY c_custkey""",

    "q_window_analytic" -> """
      SELECT event_id, user_id, value,
        lag(value, 1) OVER w AS prev_value,
        lead(value, 1) OVER w AS next_value,
        first_value(value) OVER w AS first_value,
        last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""",

    "q_window_frame_rows" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE), 4) AS mov_sum,
        round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE) /
              (count(*) OVER w), 4) AS mov_avg,
        count(*) OVER w AS mov_n
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_partkey, l_suppkey""",

    "q_window_frame_range" -> """
      SELECT p_partkey, p_brand, p_size,
        round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 4) AS rng_sum,
        count(*) OVER w AS rng_n
      FROM part
      WINDOW w AS (PARTITION BY p_brand ORDER BY p_size
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
      ORDER BY p_partkey""",

    // DuckDB spells IGNORE NULLS inside the call parens.
    "q_window_ignore_nulls" -> """
      SELECT event_id, user_id, v,
        lag(v, 1 IGNORE NULLS) OVER w AS prev_v,
        lead(v, 1 IGNORE NULLS) OVER w AS next_v,
        first_value(v IGNORE NULLS) OVER w AS first_v,
        last_value(v IGNORE NULLS) OVER w AS carry_v
      FROM (SELECT event_id, user_id, ts,
              CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY event_id""",

    "q_window_running" -> """
      SELECT o_orderkey, o_custkey,
        count(*) OVER w AS run_n,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 4) AS run_total
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey""",

    // DuckDB dialect (count(DISTINCT) over a window + date_diff); Spark
    // twin in SqlDialectTwins (size(collect_set) + datediff).
    "q_window_count_distinct" -> """
      WITH act AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        FROM events),
      n AS (
        SELECT event_type, day, user_id,
               date_diff('day', DATE '2024-01-01', day) AS dn
        FROM act),
      wn AS (
        SELECT event_type, day,
               count(DISTINCT user_id) OVER (
                 PARTITION BY event_type ORDER BY dn
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS u7
        FROM n)
      SELECT event_type, day, count(*) AS u1, max(u7) AS u7
      FROM wn GROUP BY event_type, day
      ORDER BY event_type, day"""
  )
}
