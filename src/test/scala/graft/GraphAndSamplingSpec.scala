package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the second round-11 pack: q_pagerank / q_rolling_corr /
  * q_window_count_distinct / q_weighted_sample / q_containment /
  * q_bloom_prefilter. Each key's cross-engine values are pinned by the
  * DuckDB oracle gate; these cases pin the ALGORITHMIC invariants the
  * oracle can't see (rank-mass conservation, sampling-law equivalence,
  * sketch-vs-exact equality, plan shapes).
  */
class GraphAndSamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(key: String) =
    SparkEntry.queries(key)(spark, TestSpark.Sf0001).collect()

  // ---- GraphRank.pagerank unit properties --------------------------------

  private def rankMap(edges: Seq[(Long, Long, Long)]): Map[Long, Double] = {
    import spark.implicits._
    graft.ops.GraphRank.pagerank(edges.toDF("src", "dst", "w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pagerank: symmetric 2-cycle splits rank evenly and conserves mass") {
    val r = rankMap(Seq((1L, 2L, 1L), (2L, 1L, 1L)))
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == r(2L), s"symmetric nodes diverged: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"rank mass not conserved: ${r.values.sum}")
  }

  test("pagerank: star center out-ranks every leaf; mass conserved") {
    // 4-leaf undirected star (symmetrized edges, weight 1)
    val leaves = (2L to 5L)
    val edges = leaves.flatMap(l => Seq((1L, l, 1L), (l, 1L, 1L)))
    val r = rankMap(edges)
    assert(leaves.forall(l => r(1L) > r(l)), s"center not top-ranked: $r")
    assert(leaves.map(r).toSet.size == 1, s"identical leaves diverged: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pagerank: a node with out-edges but no in-edges keeps its teleport rank") {
    // directed 3 → 1 ⇄ 2: node 3 satisfies the input contract (has an
    // out-edge) but nothing points at it — it must survive every
    // iteration at rank (1−d)/N, not vanish from the groupBy(dst) frame
    // (and its contribution must keep feeding node 1)
    val r = rankMap(Seq((3L, 1L, 1L), (1L, 2L, 1L), (2L, 1L, 1L)))
    assert(r.keySet == Set(1L, 2L, 3L), s"out-only node dropped: $r")
    assert(math.abs(r(3L) - 0.15 / 3) < 1e-9, s"teleport rank wrong: $r")
    // every node has out-degree 1, so rank mass stays conserved even with
    // a zero-in-degree node in play (the 1⇄2 cycle still oscillates at 8
    // iterations — per-node order between 1 and 2 is phase-dependent and
    // deliberately not asserted)
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"mass lost with an out-only node present: ${r.values.sum}")
    assert(r(1L) > r(3L) && r(2L) > r(3L),
      s"cycle nodes should out-rank the unreferenced node: $r")
  }

  test("pagerank: edge weight steers rank (heavier neighbor of the hub wins)") {
    // node 2 gets a 9× heavier link from hub 1 than node 3 does
    val edges = Seq((1L, 2L, 9L), (2L, 1L, 9L), (1L, 3L, 1L), (3L, 1L, 1L))
    val r = rankMap(edges)
    assert(r(2L) > r(3L), s"weight ignored: $r")
  }

  test("pagerank: ranks are invariant to edge order and input partitioning") {
    // the decimal-sum determinism claim, exercised: rounded contributions
    // summed as exact decimal cannot depend on which partition or order
    // the edges arrive in — the property that makes the float fixpoint
    // oracle-checkable at all
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 200).map { _ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, rnd.nextInt(5) + 1L)
    }.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    def ranks(es: Seq[(Long, Long, Long)], parts: Int): Map[Long, Double] =
      graft.ops.GraphRank.pagerank(
        es.toDF("src", "dst", "w").repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val base = ranks(edges, 4)
    assert(ranks(edges.reverse, 7) == base,
      "edge order / partitioning moved a rank — decimal-sum discipline broken")
    assert(ranks(rnd.shuffle(edges), 1) == base)
  }

  test("q_pagerank: top-20 is rank-descending and bipartite-decoded") {
    val rows = run("q_pagerank")
    assert(rows.length == 20)
    val prs = rows.map(_.getDouble(2)).toSeq
    assert(prs == prs.sortBy(-_), "not rank-descending")
    assert(rows.forall(r => Set("customer", "supplier")(r.getString(0))))
    assert(rows.forall(_.getDouble(2) > 0))
  }

  // ---- q_rolling_corr ----------------------------------------------------

  test("q_rolling_corr: correlations bounded, frames sized 8..14") {
    val rows = run("q_rolling_corr")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getInt(1); val c = r.getDouble(2)
      assert(n >= 8 && n <= 14, s"frame size $n outside [8,14]")
      assert(c >= -1.0001 && c <= 1.0001, s"corr out of range: $c")
    }
  }

  // ---- q_window_count_distinct -------------------------------------------

  test("q_window_count_distinct: u7 dominates u1 and is subadditive over the frame") {
    val rows = run("q_window_count_distinct")
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val byDay = rs.map(r => r.getDate(1).toLocalDate -> r).toMap
      rs.foreach { r =>
        val day = r.getDate(1).toLocalDate
        val u1 = r.getLong(2); val u7 = r.getLong(3)
        assert(u7 >= u1, s"trailing distinct < daily distinct on $day")
        // distinct over the union ≤ sum of per-day distincts
        val window = (0 to 6).flatMap(k => byDay.get(day.minusDays(k)))
        assert(u7 <= window.map(_.getLong(2)).sum,
          s"u7 exceeds the sum of its days' u1 on $day")
      }
    }
  }

  // ---- q_weighted_sample -------------------------------------------------

  test("q_weighted_sample: selection == brute-force A-ES top-25 recomputed locally") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "text", "n_chars").collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = docs.map { r =>
      val u = (h60(r.getString(1)) + 1).toDouble / 1152921504606846976L.toDouble
      val pri = BigDecimal(math.log(u) / r.getLong(2))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r.getLong(0), pri)
    }.sortBy { case (id, pri) => (-pri, id) }.take(25).map(_._1).toSeq
    val got = run("q_weighted_sample").map(_.getLong(0)).toSeq
    assert(got == expect, s"sample drifted from the A-ES law:\n$got\n$expect")
  }

  test("q_weighted_sample plans a top-k (TakeOrderedAndProject), not a global sort") {
    val df = SparkEntry.queries("q_weighted_sample")(spark, TestSpark.Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected a k-row top-k operator:\n$plan")
  }

  // ---- q_containment -----------------------------------------------------

  test("q_containment == brute-force 5-gram containment under the same blocking") {
    val docs = Tables.documents(spark, TestSpark.Sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val gramSets: Map[Long, Set[String]] = docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      id -> (if (ws.length < 5) Set.empty[String]
             else ws.sliding(5).map(_.mkString(" ")).toSet)
    }
    val df = gramSets.toSeq.flatMap { case (id, gs) => gs.map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val rareGroups = df.filter(_._2.size <= 20).values
    val cand = rareGroups.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    def c(a: Long, b: Long): (Double, Double) = {
      val ov = (gramSets(a) intersect gramSets(b)).size.toDouble
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r4(ov / gramSets(a).size), r4(ov / gramSets(b).size))
    }
    val expect = cand.toSeq.map { case (a, b) => val (c12, c21) = c(a, b)
        (a, b, c12, c21) }
      .filter { case (_, _, c12, c21) => math.max(c12, c21) >= 0.6 }
      .sortBy { case (a, b, _, _) => (a, b) }
    val got = run("q_containment")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSeq
    assert(got == expect,
      s"containment drifted from brute force: got ${got.size}, want ${expect.size}")
    // the asymmetric signal is present in the fixture (pure Jaccard would
    // score these pairs low, containment is what flags them)
    assert(got.exists { case (_, _, c12, c21) => math.abs(c12 - c21) > 0.02 },
      "no asymmetric pair found — key degenerates to Jaccard on this fixture")
  }

  test("q_triangle_count == brute-force triangle enumeration over the same pairs") {
    val pairs = graft.ops.TextOps
      .minhashPairs(Tables.documents(spark, TestSpark.Sf0001), 0.5)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }
    val adj = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def has(a: Long, b: Long) = adj.getOrElse(a, Set.empty)(b)
    val expect = (for {
      (a, b) <- pairs.toSeq
      c <- adj.getOrElse(b, Set.empty) if has(a, c)
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = run("q_triangle_count")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect,
      s"triangle membership drifted: got ${got.size} docs, want ${expect.size}")
    assert(got.nonEmpty, "fixture near-dup graph should contain triangles")
    assert(nodes.exists(n => !got.contains(n)),
      "some paired doc should be triangle-free (chains exist)")
  }

  test("q_bootstrap_ci replicas behave like Poisson(1) resamples of the orders table") {
    val rows = run("q_bootstrap_ci")
    assert(rows.length == 32, s"expected 32 replicas, got ${rows.length}")
    val nOrders = Tables.orders(spark, TestSpark.Sf0001).count()
    val trueMean = Tables.orders(spark, TestSpark.Sf0001)
      .agg(avg(round(col("o_totalprice") * 100).cast("long"))).head().getDouble(0)
    rows.foreach { r =>
      val nEff = r.getLong(1); val mean = r.getDouble(2)
      // Poisson(1) total: mean n, sd √n ⇒ ±5σ band
      assert(math.abs(nEff - nOrders) < 5 * math.sqrt(nOrders.toDouble),
        s"replica size $nEff implausible for n=$nOrders")
      assert(math.abs(mean - trueMean) / trueMean < 0.2,
        s"replica mean $mean far from population $trueMean")
    }
    assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to 32),
      "ranks are not a permutation of 1..32")
    // determinism: a second run reproduces the resample exactly
    assert(run("q_bootstrap_ci").toSeq == rows.toSeq)
  }

  // ---- q_bloom_prefilter -------------------------------------------------

  test("q_bloom_prefilter == the exact semi join (bloom is pure pruning)") {
    import graft.ops.QueryPack
    val d = TestSpark.Sf0001
    val build = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_totalprice") > 300000)
      .select(col("o_orderkey"))
    val exact = Tables.lineitem(spark, d)
      .join(build, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
      .collect().toSeq
    assert(run("q_bloom_prefilter").toSeq == exact)
  }

  test("bloom prefilter actually prunes the probe (and FPR stays near spec)") {
    val d = TestSpark.Sf0001
    val build = Tables.orders(spark, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_totalprice") > 300000)
      .select(col("o_orderkey"))
    val bf = build.stat.bloomFilter("o_orderkey", build.count(), 0.01)
    val probe = Tables.lineitem(spark, d).select(col("l_orderkey")).collect()
      .map(_.getLong(0))
    val keys = build.collect().map(_.getLong(0)).toSet
    val kept = probe.count(bf.mightContain(_))
    val trueHits = probe.count(keys)
    assert(kept < probe.length / 2,
      s"bloom kept $kept of ${probe.length} — no meaningful pruning")
    // false-positive rate over non-member probe rows ≤ 5× the 1% target
    val nonMember = probe.length - trueHits
    assert(nonMember == 0 || (kept - trueHits).toDouble / nonMember < 0.05,
      s"FPR ${(kept - trueHits).toDouble / nonMember} far above the 0.01 target")
  }
}
