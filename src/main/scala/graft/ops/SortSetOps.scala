package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.B "Sort / limit / top-k" + "Set operations".
  *
  * Scale notes: q_topk_global compiles to TakeOrderedAndProjectExec —
  * per-partition heap + driver merge of k rows, never a global sort.
  * q_topk_per_group is one shuffle by group key + per-partition sort with
  * the rank filter pushed into the window (WindowGroupLimit in Spark 4
  * keeps only 3 rows per group per partition before the shuffle).
  * q_sort_multi materializes an explicit global rank as deterministic
  * data-derived buckets + broadcast prefix offsets + a bucket-local
  * row_number — never a single-partition window and never an RDD
  * drop-out; see the key's comment.
  */
object SortSetOps extends QueryPack {

  /** q_sort_multi bucket width over c_acctbal (the skew knob: TPC-H
    * acctbal spans [-999.99, 9999.99] so 1000.0 gives ~11 bands per
    * segment; shrink it to split hot buckets at corpus scale). */
  private val BandWidth = 1000.0


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Multi-key sort with mixed direction, made observable via global rank.
    //
    // DataFrame-native two-pass rank (r13 verdict item 4, replacing the
    // r3 `rdd.zipWithIndex` form that left Tungsten and deserialized every
    // row): bucket on a DATA-derived prefix of the sort order — (segment,
    // acctbal band) — so the global rank decomposes exactly into
    // `offset(bucket) + row_number within bucket`. Bucket counts are one
    // tiny hash agg collected as an O(|buckets|) driver array (the
    // q_token_budget broadcast-offset discipline); prefix offsets come
    // back as a broadcast join; the within-bucket row_number windows over
    // a real key (never a single partition). Unlike range-partitioning,
    // the buckets are DETERMINISTIC (floor arithmetic, no boundary
    // sampling), so the count pass and the rank pass can be separate
    // executions without any chance of disagreeing. `BandWidth` is the
    // skew knob: narrower bands = more, smaller windows at scale.
    // sort_pos stays LongType (ADVICE r4): an Int rank wraps past 2^31.
    "q_sort_multi" -> { (s, d) =>
      val band = floor(col("c_acctbal") / BandWidth).cast("long")
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("band", band)
      // bucket order mirrors the sort order: segment asc, band DESC
      // (acctbal sorts descending, and floor is monotone)
      // ordered IN THE PLAN, not on the driver: Spark's UTF8String binary
      // (code-point) comparator must define the segment order everywhere —
      // a driver-side Scala sortBy would compare UTF-16 code units and
      // diverge from the executor windows on supplementary-plane strings
      val counts = base.groupBy(col("c_mktsegment"), col("band"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("c_mktsegment"), col("band").desc)
        .collect()
      val offsets = counts.scanLeft(0L)(_ + _.getAs[Long]("cnt")).init
      import s.implicits._
      // LocalRelation (not parallelize): the offsets ride the plan as a
      // LocalTableScan literal — no RDD anywhere in the lineage
      val offDf = counts.zip(offsets).toSeq.map { case (r, off) =>
        (r.getString(0), r.getLong(1), off)
      }.toDF("c_mktsegment", "band", "off")
      val w = Window.partitionBy(col("c_mktsegment"), col("band"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      base.join(broadcast(offDf), Seq("c_mktsegment", "band"))
        .withColumn("sort_pos",
          col("off") + row_number().over(w).cast("long"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
                col("sort_pos"))
        .orderBy(col("sort_pos"))
    },

    // LIMIT + OFFSET over a total order.
    "q_limit_offset" -> { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .offset(50).limit(100)
    },

    // Global top-k: TakeOrderedAndProjectExec, no full sort.
    "q_topk_global" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
                 col("l_linenumber"))
        .limit(20)
    },

    // Top-3 orders per customer by total price.
    "q_topk_per_group" -> { (s, d) =>
      QueryPack.topK(Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // UNION ALL keeps duplicates (tagged so the overlap is visible).
    "q_union_all" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), lit("seg").as("src"))
      val b = c.filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), lit("bal").as("src"))
      a.unionAll(b).orderBy(col("c_custkey"), col("src"))
    },

    // UNION distinct de-duplicates across the two sides.
    "q_union_distinct" -> { (s, d) =>
      val c = Tables.customer(s, d)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
      a.union(b).distinct().orderBy(col("c_custkey"))
    },

    // INTERSECT: customers with both an 'F' and an 'O' order.
    "q_intersect" -> { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },

    // EXCEPT: customers with an 'O' order but no 'F' order.
    "q_except" -> { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },

    // 2-D skyline (pareto frontier): the parts no other part beats on
    // BOTH axes — cheaper-or-equal price AND bigger-or-equal size with
    // at least one strict. The naive formulation is a quadratic NOT
    // EXISTS self-join; this is the O(n log n) sweep instead: collapse
    // to per-price max size, one running strictly-cheaper max over the
    // price-sorted frame (ROWS ... 1 PRECEDING excludes the tie group —
    // the reason the sweep runs on the collapsed grain, where ties
    // cannot straddle rows), then survivors = rows that top their own
    // price group AND exceed every cheaper group's best. 100 TB lens:
    // the fact side never self-joins; the sweep frame is |distinct
    // prices| rows (broadcast back), and at frontier-of-billions scale
    // the same sweep becomes a range-partitioned sort + two-pass prefix
    // max — the q_sort_multi discipline, still zero quadratic work.
    "q_skyline" -> { (s, d) =>
      val p = Tables.part(s, d)
      val run = p.groupBy(col("p_retailprice").as("price"))
        .agg(max(col("p_size")).as("pmax"))
        .withColumn("better", max(col("pmax")).over(
          Window.orderBy(col("price"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      p.join(broadcast(run), col("p_retailprice") === col("price"))
        .filter(col("p_size") === col("pmax") &&
                (col("better").isNull || col("p_size") > col("better")))
        .select(col("p_partkey"), col("p_brand"),
                col("p_retailprice"), col("p_size"))
        .orderBy(col("p_retailprice"), col("p_partkey"))
    }
  )

  def oracles: Map[String, String] = Map(
    "q_sort_multi" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        row_number() OVER (ORDER BY c_mktsegment ASC, c_acctbal DESC,
                           c_custkey ASC) AS sort_pos
      FROM customer ORDER BY sort_pos""",

    "q_limit_offset" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50""",

    "q_topk_global" -> """
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""",

    "q_topk_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders QUALIFY rn <= 3 ORDER BY o_custkey, rn""",

    "q_union_all" -> """
      SELECT c_custkey, 'seg' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey, 'bal' AS src FROM customer WHERE c_acctbal > 5000
      ORDER BY c_custkey, src""",

    "q_union_distinct" -> """
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      ORDER BY c_custkey""",

    "q_intersect" -> """
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey""",

    "q_except" -> """
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      ORDER BY o_custkey""",

    // Portable SQL (valid in BOTH engines -> SqlParityKeys.oracleReuse).
    "q_skyline" -> """
      WITH run AS (
        SELECT price, pmax,
          max(pmax) OVER (ORDER BY price
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better
        FROM (SELECT p_retailprice AS price, max(p_size) AS pmax
              FROM part GROUP BY p_retailprice))
      SELECT p_partkey, p_brand, p_retailprice, p_size
      FROM part JOIN run ON p_retailprice = price
      WHERE p_size = pmax AND (better IS NULL OR p_size > better)
      ORDER BY p_retailprice, p_partkey"""
  )
}
