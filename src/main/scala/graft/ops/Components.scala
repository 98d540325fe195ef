package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected pair list — the canonical
  * finisher of a near-dup pipeline: pairwise matches → clusters → one
  * survivor per cluster. Min-label propagation WITH pointer doubling:
  * every node repeatedly adopts the smallest label among itself, its
  * neighbors, AND its label's label (`comp(comp(id))` — the
  * Shiloach–Vishkin shortcutting step) until no label changes. Plain
  * neighbor-min converges in O(diameter) rounds — fine for near-dup
  * clusters (tiny, dense) but a 10⁶-node chain would need 10⁶ rounds;
  * the fused doubling candidate makes the distance-to-minimum roughly
  * double per round, so convergence is O(log n) on ANY topology
  * (ComponentsSpec pins a diameter-59 path converging in ≤ 12 rounds,
  * r8 verdict item 5).
  *
  * Scale notes: each round is one join + one aggregation — all
  * hash-partitioned by node id, no global structure. The per-round
  * `localCheckpoint` is load-bearing: an iterative DataFrame loop
  * otherwise accumulates lineage and replans/recomputes the whole
  * history every round (at 100 TB, round k would re-run rounds 1..k-1).
  * Label size stays one long per node; the driver only ever sees the
  * one-row convergence count.
  */
object Components {

  /** `pairs` must have two NON-NULL long columns (d1, d2), one row per
    * undirected edge — a row with a null endpoint is not an edge and is
    * silently ignored (the `a =!= b` edge filter evaluates null on it).
    * Returns (id, component) where component = the minimum node id
    * reachable from `id`. Nodes with no edges are absent (they are their
    * own component by definition — callers union them in if needed).
    *
    * Each round is one adjacency join + one label⨝label pointer join,
    * unioned into one aggregation: self-edges (a, a) ride in the
    * adjacency list, so `min` over a node's neighborhood already includes
    * its own label and no merge-back join is needed; the pointer branch
    * adds the `comp(comp(id))` doubling candidate (labels are ids of
    * same-component nodes, so every label has a label row — the inner
    * join drops nothing). The extra join is label-sized (two longs/row),
    * not adjacency-sized, and buys O(log n) total rounds in place of
    * O(diameter) — strictly fewer checkpointed materializations on any
    * graph with chains. Convergence is a scalar invariant, not a join:
    * labels are monotonically non-increasing (every candidate set
    * includes the previous label; comp(comp) ≤ comp since comp(i) ≤ i),
    * so the label sum strictly decreases until the fixpoint — `sum(comp)`
    * unchanged ⇔ every label unchanged; at the fixpoint neighbor-min
    * stability alone forces the component-min labeling (the pointer
    * candidate is then a no-op). Summed as decimal(38,0): 10¹⁰ nodes ×
    * 10¹⁰ max id ≈ 10²⁰ overflows a long. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val d1 = pairs.columns(0)
    val d2 = pairs.columns(1)
    // symmetric neighbor list (labels must flow both directions) + self
    val sym = pairs.select(col(d1).as("a"), col(d2).as("b"))
      .union(pairs.select(col(d2).as("a"), col(d1).as("b")))
      .distinct()
    // drop input self-loops from the edge side before unioning the
    // synthesized self-edges (built from sym BEFORE the filter, so a node
    // whose only appearance is a self-loop keeps its row): the union is
    // then duplicate-free by construction — a=b rows come only from the
    // second branch — with no extra distinct shuffle over the adjacency
    // r20: all three cuts here are LAZY — each round's labelSum action is
    // the materializer, so a round costs one job instead of a dedicated
    // checkpoint job plus the sum job. Unpersist ordering stays safe: the
    // old labels are only unpersisted AFTER labelSum(next) has
    // materialized the new snapshot (which read them).
    val adj = sym.filter(col("a") =!= col("b"))
      .union(sym.select(col("a")).distinct().select(col("a"), col("a").as("b")))
      .localCheckpoint(eager = false)
    // r19 opt: seed with ROUND 1's output directly. From self-labels,
    // round 1's candidates are min-over-neighborhood (self-edges ride in
    // adj, so the min includes the node's own id) and the pointer branch
    // comp(comp(id)) = id — a no-op. So labels₁ = min_b adj(a, b), one
    // aggregation instead of the two-join round machinery; every later
    // round is unchanged and the fixpoint (and its detection — sum
    // stable round-over-round) is identical.
    var labels = adj.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("comp"))
      .localCheckpoint(eager = false)
    // sum() over zero rows is NULL — map it to 0 so an empty pair set
    // (no near-dups above threshold) converges to an empty frame instead
    // of NPE-ing on the comparison
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaNeighbors = adj
        .join(labels.select(col("id").as("b"), col("comp").as("bcomp")), Seq("b"))
        .select(col("a").as("id"), col("bcomp").as("cand"))
      val viaPointer = labels
        .join(labels.select(col("id").as("comp"), col("comp").as("cand")),
          Seq("comp"))
        .select(col("id"), col("cand"))
      val next = viaNeighbors.union(viaPointer)
        .groupBy(col("id"))
        .agg(min(col("cand")).as("comp"))
        .localCheckpoint(eager = false)
      val s = labelSum(next)
      // bound executor storage at two label snapshots (old + new) — the
      // weak-ref ContextCleaner path would otherwise keep one per round
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    labels
  }
}
