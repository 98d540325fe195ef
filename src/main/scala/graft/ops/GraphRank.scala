package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Weighted PageRank over an edge list — the graph-centrality companion to
  * [[Components]] (which clusters; this ranks). Fixed-iteration power
  * method: r₀ = 1/N, rₖ₊₁(v) = (1−d)/N + d·Σ_{u→v} rₖ(u)·w(u,v)/outw(u).
  *
  * Determinism contract (the reason this is oracle-checkable cross-engine,
  * unlike most float fixpoints): every per-edge contribution is rounded to
  * 12 decimals and summed EXACTLY — as of r20 as a LONG in 1e-12 units
  * (the rounded double sits within ~1e-4·1e-12 of the exact k·1e-12, so
  * re-rounding the scaled value recovers k exactly; total mass is 1, so
  * sums stay ≤ ~1e12 at any graph size), which equals the DuckDB oracle's
  * DECIMAL(18,14) sum value for value — and each new rank is
  * re-rounded to 12 decimals — so the only float ops per iteration are
  * single IEEE multiplies/divides/adds on identical inputs, and addition
  * order (Spark's partial aggregation vs any other engine's) cannot move
  * the result. The DuckDB oracle is the same recurrence unrolled as
  * chained CTEs; its SQL is portable enough to be its own Spark twin.
  *
  * Scale notes (100 TB lens): each iteration is one join of the broadcast
  * rank frame (|V| rows, two longs + a double) against the edge frame
  * hash-partitioned by dst, then one agg by dst — both map-side
  * combinable; no global structure, no collect except the one-time node
  * count. The edge frame (with out-weights merged in ONCE, outside
  * the loop) is `localCheckpoint`ed so iteration k's plan does not replay
  * iterations 1..k−1 (the same lineage discipline as [[Components]]); rank
  * snapshots are checkpointed every [[CutEvery]] rounds and the previous
  * one unpersisted, bounding executor storage at two |V|-sized frames.
  * Iteration count is fixed (the production norm — convergence tests on
  * ranks are float-fragile), so the wall cost is exactly `iters` shuffle
  * rounds of |E| + |V| rows.
  */
object GraphRank {

  /** Rounds between rank-frame cuts (q_pagerank at sf0.1 ran fastest at
    * 2 of 1, 2 and 4). */
  private val CutEvery = 2

  /** `edges` must have three columns (src LONG, dst LONG, w LONG), one row
    * per directed edge, no nulls. Every node that should receive rank must
    * have at least one out-edge (callers with dangling nodes symmetrize or
    * add self-loops first — the fixture key feeds a symmetrized bipartite
    * graph, so N(out) = N(in) = N). Returns (node, r) with r rounded to 12
    * decimals, one row per node. */
  def pagerank(edges: DataFrame, iters: Int = 8,
               damping: Double = 0.85): DataFrame = {
    val Seq(srcC, dstC, wC) = edges.columns.toSeq.take(3)
    // one evaluation of the caller's edge pipeline, ever: outw, the n
    // count, and the ew build all read this in-memory snapshot.
    // r20 opt (guide §2.4): LAZY — the n count below materializes the
    // whole chain in ONE job instead of an eager edge job + count job.
    val e = edges.localCheckpoint(eager = false)
    // r20 opt: outw itself had THREE lazy consumers (the ew join, the n
    // count, the r0 rank init), each re-running the groupBy over the edge
    // snapshot — one node-grain cut makes it compute once (same storable
    // class as the rank snapshots; nothing here is ever unpersisted
    // before its dependents materialize, so laziness is safe).
    val outw = e.groupBy(col(srcC).as("src"))
      .agg(sum(col(wC)).as("ow"))
      .localCheckpoint(eager = false)
    // Out-weights merged once, outside the loop (and materialized once —
    // 8 lazy consumers would otherwise re-run the join+agg per round).
    // The edge frame is partitioned by DST, not src: each iteration joins
    // it against a BROADCAST of the rank frame (|V| rows of two longs —
    // tiny next to |E|), so the join never shuffles, and because every
    // dst's contributions are co-located the partial (map-side) aggregate
    // collapses them to ≈|V| rows before the agg's exchange — an
    // iteration shuffles node-sized data, never edge-sized (the plan
    // keeps an ENSURE_REQUIREMENTS exchange above the partial agg: AQE's
    // partition coalescing voids the checkpointed hash partitioning, but
    // what crosses it is the already-combined per-dst rows). When |V|
    // itself outgrows broadcast (billions of nodes), the classic trade is
    // src-partitioning + a co-partitioned shuffle join that pays an
    // edge-sized exchange per iteration.
    // r19 opt: the node universe rides INSIDE the edge frame as one
    // zero-weight self-loop row per node (w = 0 ⇒ its contribution is
    // round(r·0/1, 12) = 0.00000000000000 exactly, so every per-dst
    // decimal sum is unchanged) instead of a per-iteration LEFT join
    // against a separate `nodes` frame. The groupBy(dst) then emits every
    // node — a node with out-edges but NO in-edges keeps its teleport
    // rank (1−d)/N through the coalesce, same as the old join — and each
    // iteration drops one join plus one broadcast-build job.
    val ew = e.select(col(srcC).as("src"), col(dstC).as("dst"), col(wC).as("w"))
      .join(outw, Seq("src"))
      .unionByName(outw.select(col("src"), col("src").as("dst"),
        lit(0L).as("w"), lit(1L).as("ow")))
      .repartition(col("dst"))
      // lazy (r20): materializes inside iteration 1's first job; ew is
      // never unpersisted, so deferred materialization is safe
      .localCheckpoint(eager = false)
    val n = outw.count()
    var ranks = outw.select(col("src").as("node"), lit(1.0 / n).as("r"))
    var sinceCut = 0
    var prevCut: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // contribution decimal is (18,14): every per-edge term is < 1 and
      // rounded to 12 decimals, and per-node sums are bounded by the total
      // rank mass (= 1), so 4 integer digits are plenty — and 18 digits
      // keeps the value long-backed (compact) in the aggregation buffer
      // coalesce keeps the degenerate all-null-contribution group (only
      // possible when every real in-edge divides by a zero out-weight)
      // computing round((1−d)/N + d·0, 12), exactly as the old
      // nodes-LEFT-join spelling did; the self-loop row otherwise pins
      // s = Σc + 0.00000000000000 — bit-identical decimal sums.
      // r20 opt (the q_corr_matrix long-unit discipline): the contribution
      // rode as DECIMAL(18,14) through a byte-backed sum buffer — one
      // BigDecimal cast + buffer allocation per EDGE per iteration.
      // round(x, 12) lands within ~1e-4 of the exact 12-decimal value
      // k·1e-12 after scaling, so round(·1e12) recovers the integer k
      // EXACTLY and the per-dst sum becomes a LONG sum (mutable tungsten
      // word). Total rank mass is 1, so Σk ≤ ~1e12 at ANY graph size —
      // exact in a long and exact in a double — and s/1e12 casts to the
      // identical double the decimal sum produced. Bit-identical ranks.
      ranks = ew.join(broadcast(ranks), col("node") === col("src"))
        .select(col("dst"),
          round(round(col("r") * col("w") / col("ow"), 12) * 1e12)
            .cast("long").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"), round(lit((1.0 - damping) / n) +
          lit(damping) *
            (coalesce(col("s"), lit(0L)).cast("double") / 1e12), 12).as("r"))
      sinceCut += 1
      if (sinceCut >= CutEvery) {
        val cut = ranks.localCheckpoint()
        // bound executor storage at one rank snapshot (+ the in-flight one)
        prevCut.foreach(_.unpersist())
        prevCut = Some(cut)
        ranks = cut
        sinceCut = 0
      }
    }
    ranks
  }

  /** The oracle recurrence as portable SQL (DuckDB ∩ Spark dialect): the
    * same rounding discipline, unrolled `iters` times. `edgeCte` must
    * define a relation (src, dst, w). Kept here so the SQL and the DSL
    * share one source of truth for the constants.
    *
    * Assumes every node also has IN-degree ≥ 1 (true for any symmetrized
    * graph, incl. the fixture key): the unrolled GROUP BY dst form has no
    * left-join-the-node-universe step, so a node with out-edges only
    * would drop here while [[pagerank]] retains it at teleport rank. */
  def pagerankSql(preCtes: String, edgeCte: String, iters: Int = 8,
                  damping: Double = 0.85, select: String): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (
        SELECT ew.dst AS node,
               round(CAST(${1.0 - damping} AS DOUBLE) / t.nn +
                     CAST($damping AS DOUBLE) *
                     CAST(sum(CAST(round(r.r * ew.w / ew.ow, 12)
                                   AS DECIMAL(18,14))) AS DOUBLE), 12) AS r
        FROM r${k - 1} r JOIN ew ON r.node = ew.src CROSS JOIN nct t
        GROUP BY ew.dst, t.nn)"""
    }.mkString(",\n      ")
    s"""
      WITH $preCtes,
      e AS ($edgeCte),
      outw AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
      ew AS (SELECT e.src, e.dst, e.w, o.ow FROM e JOIN outw o ON e.src = o.src),
      nct AS (SELECT count(*) AS nn FROM outw),
      r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / t.nn AS r
             FROM outw CROSS JOIN nct t),
      $iterCtes
      $select"""
  }
}
