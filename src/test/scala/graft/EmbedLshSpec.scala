package graft

import graft.Tables
import graft.ops.PipelineOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-knob properties of the parameterized embedding ops (round-3
  * verdict item 4): what widening the sign-bucket LSH and the IVF list
  * count does to recall — the guarantees SCALE.md's √n sizing rules lean
  * on, checked on the real fixture.
  */
class EmbedLshSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private def emb = Tables.embeddings(s, TestSpark.Sf0001)

  private def pairs(signBits: Int): Set[(Long, Long)] =
    PipelineOps.embedNearDup(emb, signBits, minCos = 0.35)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("widening sign buckets only removes pairs (prefix monotonicity)") {
    val p4 = pairs(4)
    val p8 = pairs(8)
    val p12 = pairs(12)
    assert(p4.nonEmpty, "fixture should have near-dup embeddings")
    assert(p8.subsetOf(p4), s"8-bit buckets invented pairs: ${p8 -- p4}")
    assert(p12.subsetOf(p8), s"12-bit buckets invented pairs: ${p12 -- p8}")
  }

  test("near-duplicate recall survives ANY bucket width (4 -> 16 bits)") {
    // The sizing rule's premise: a TRUE near-duplicate agrees with its
    // original on every non-borderline sign, so probing more dimensions
    // keeps finding it. The fixture has no planted duplicates (max natural
    // cos ~0.48), so plant them: per-coordinate scale by 1 + 0.02*sin(i) —
    // deterministic, SIGN-PRESERVING (multipliers stay in [0.98, 1.02]),
    // cos ~0.9998 — a genuine near-dup, not a bit-identical copy.
    val noisy = emb.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        x * (lit(1.0f) + lit(0.02f) * sin(i.cast("double")).cast("float")))
        .as("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionAll(noisy)
    val planted = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000)).toSet
    for (bits <- Seq(4, 8, 16)) {
      val found = PipelineOps.embedNearDup(corpus, bits, minCos = 0.99)
        .select("v1", "v2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == planted,
        s"$bits-bit buckets: lost ${planted -- found}, extra ${found -- planted}")
    }
  }

  test("multi-table LSH: one table IS the single-table pass; more tables only add recall") {
    def multi(bits: Int, tables: Int): Set[(Long, Long)] =
      PipelineOps.embedNearDupMulti(emb, bits, tables, minCos = 0.35)
        .select("v1", "v2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single6 = pairs(6)
    assert(multi(6, 1) == single6, "1-table multi diverged from embedNearDup")
    val m3 = multi(6, 3)
    assert(single6.subsetOf(m3), "adding tables lost pairs")
    // independent ground truth: ALL pairs with cos >= 0.35 by brute force
    // — multi-table output must sit between single-table and exhaustive,
    // which pins the cosine-confirm stage (a dropped/misapplied minCos
    // filter would surface spurious low-cos pairs here)
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding")))
        .as("nrm"))
    val brute = e.alias("x").crossJoin(e.alias("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        round(graft.expr.DotProduct.dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= 0.35)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m3.subsetOf(brute),
      s"multi-table invented sub-threshold pairs: ${m3 -- brute}")
    // recall-back demonstration, guarded so it only fires when the fixture
    // actually HAS borderline pairs the first table's signs reject (it
    // does — seed-42 fixtures are deterministic; the guard keeps the test
    // property-shaped rather than fixture-shaped)
    val lost = brute -- single6
    if (lost.nonEmpty)
      assert((m3 -- single6).nonEmpty,
        s"tables 2-3 recovered none of the ${lost.size} borderline pairs")
  }

  test("ivfTopK with nProbe = nLists degrades to exact brute-force top-k") {
    val isProbe = col("vec_id") >= 10 && col("vec_id") < 15
    val ivf = PipelineOps.ivfTopK(emb, isProbe, nLists = 16, nProbe = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // brute force: every probe x every other vector, cosine top-5
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding"))).as("nrm"))
    val probes = e.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
              col("nrm").as("pnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val brute = probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(graft.expr.DotProduct.dot(col("pe"), col("embedding")) /
          (col("pnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("probe_id"), col("rn"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ivf.sorted == brute.sorted,
      "exhaustive-probe IVF diverged from brute force")
  }

  test("measured recall@5 curve: ivfTopK vs brute-force truth across nProbe") {
    // r8 verdict item 7: the tuning knobs ship with a measured curve, not
    // just direction properties. Ground truth = exact cosine top-5 per
    // probe (q_similarity_topk's brute-force semantics, same probe set as
    // q_ann_ivf: vec_id < 5, nLists = 16). Recall@5 = |ivf∩truth| / |truth|
    // over all probes. The fixture is seed-deterministic, so the measured
    // values are exact reruns — pinned as floors in case a float library
    // nudges a borderline neighbor. Curve recorded in SCALE.md.
    val isProbe = col("vec_id") < 5
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding"))).as("nrm"))
    val probes = e.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
              col("nrm").as("pnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(graft.expr.DotProduct.dot(col("pe"), col("embedding")) /
          (col("pnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val got = PipelineOps.ivfTopK(emb, isProbe, nLists = 16, nProbe = np, k = 5)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      np -> got.intersect(truth).size.toDouble / truth.size
    }.toMap
    info(s"recall@5 by nProbe (nLists=16): $recalls")
    // more probes never hurt
    assert(recalls(1) <= recalls(2) && recalls(2) <= recalls(4) &&
           recalls(4) <= recalls(8), s"recall not monotone: $recalls")
    assert(recalls(8) > recalls(1), "curve is flat — nProbe knob does nothing")
    // the measured curve (0.88 / 0.92 / 0.92 / 0.96) with slack for a
    // borderline float nudge — a real recall regression fails here
    assert(recalls(1) >= 0.85 && recalls(8) >= 0.95,
      s"recall floor broken: $recalls")
  }

  test("measured pair-recall: embedNearDupMulti vs exact cosine pairs across tables") {
    // Ground truth = ALL pairs with cos >= 0.35 by brute force; recall =
    // fraction surfaced by the banded LSH at 6 bits per table. Recorded in
    // SCALE.md alongside the candidate-volume trade.
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding"))).as("nrm"))
    val brute = e.alias("x").crossJoin(e.alias("y"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        round(graft.expr.DotProduct.dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm")), 4).as("cos"))
      .filter(col("cos") >= 0.35)
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recalls = Seq(1, 2, 3).map { t =>
      val got = PipelineOps.embedNearDupMulti(emb, 6, t, minCos = 0.35)
        .select("v1", "v2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      t -> got.intersect(brute).size.toDouble / brute.size
    }.toMap
    info(s"pair recall by tables (6 sign bits each): $recalls, truth=${brute.size} pairs")
    assert(recalls(1) <= recalls(2) && recalls(2) <= recalls(3),
      s"recall not monotone in tables: $recalls")
    // Measured: 0.058 / 0.147 / 0.198 — and the single-table value IS the
    // sign-LSH theory prediction (1 - θ/π)^6 ≈ 0.054 at cos 0.35 (θ ≈
    // 69.5°), i.e. the op behaves exactly like the math says at a LOOSE
    // threshold. The DESIGN regime is near-dup cos ≥ 0.99 (p_bit ≈ 0.97,
    // single-table ≈ 0.83 at 6 bits), where the planted-duplicate test
    // above measures recall 1.0 through 16 bits. Floors with slack:
    assert(recalls(1) >= 0.04 && recalls(3) >= 0.17,
      s"pair-recall floor broken: $recalls")
  }

  test("more lists with fixed nProbe never returns a BETTER neighbor set than exhaustive") {
    // sanity on the recall direction: nProbe=4 of 32 lists is a subset of
    // the exhaustive candidates, so each returned cos <= the brute-force
    // rank-1 cos for that probe
    val isProbe = col("vec_id") >= 10 && col("vec_id") < 15
    val narrow = PipelineOps.ivfTopK(emb, isProbe, nLists = 32, nProbe = 4, k = 1)
      .select("probe_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exact = PipelineOps.ivfTopK(emb, isProbe, nLists = 32, nProbe = 32, k = 1)
      .select("probe_id", "cos").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(narrow.keySet.subsetOf(exact.keySet))
    narrow.foreach { case (p, c) =>
      assert(c <= exact(p) + 1e-9, s"probe $p: approximate beat exact?")
    }
  }

  test("q_ann_recall == independent ivfTopK ∩ brute-force recomputation") {
    // The contract key's hit counts, re-derived from the building blocks
    // it is made of: truth = brute-force top-5 on the q_ann_ivf probes,
    // hits(np) = |ivfTopKTrained(np) ∩ truth|, each nProbe served on its
    // own through the q_ann_ivf form (the key sweeps every nProbe in one
    // candidate frame — this pins that one sweep ≡ per-nProbe serving).
    // Pins the key's algebra (not just its hash) and the identity
    // recall(nLists) = 1.0.
    val rows = SparkEntry.queries("q_ann_recall")(s, TestSpark.Sf0001)
      .collect()
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 2, 4, 8, 16))
    val isProbe = col("vec_id") >= 10 && col("vec_id") < 15
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding")))
        .as("nrm"))
    val probes = e.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
              col("nrm").as("pnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(graft.expr.DotProduct.dot(col("pe"), col("embedding")) /
          (col("pnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val np = r.getAs[Int]("nprobe")
      val got = PipelineOps.ivfTopKTrained(s, TestSpark.Sf0001, 16, np, 5)
        .select("probe_id", "vec_id").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(r.getAs[Long]("n_hits") == got.intersect(truth).size.toLong,
        s"nprobe=$np hit count")
      assert(r.getAs[Long]("n_exact") == truth.size.toLong)
    }
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    assert(recalls.sliding(2).forall(p => p.head <= p.last),
      s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0,
      "nprobe = nLists must recover brute force exactly")
  }

  test("q_ann_ivf (trained, r16) recall@5 delta vs seeded ivfTopK at nProbe=4") {
    // The r16 contract-key swap's measured readout at the key's own
    // operating point (16 lists, 4 probes, top-5, probes 10..14):
    // trained recall is pinned as a floor and the trained-vs-seeded
    // delta recorded. Pointwise superiority is NOT asserted — recall
    // curves cross at single operating points (on this fixture seeded
    // happens to hit 1.0 at nProbe=4; trained measures 0.96), and the
    // serving keys probe only vec_ids 10-14, too few pairs to pin a
    // systematic trained > seeded ordering. Truth = brute-force top-5.
    val isProbe = col("vec_id") >= 10 && col("vec_id") < 15
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(graft.expr.DotProduct.dot(col("embedding"), col("embedding")))
        .as("nrm"))
    val probes = e.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
              col("nrm").as("pnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val truth = probes.crossJoin(e).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(graft.expr.DotProduct.dot(col("pe"), col("embedding")) /
          (col("pnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(truth).size.toDouble / truth.size
    val trained = recallOf(
      PipelineOps.ivfTopKTrained(s, TestSpark.Sf0001, 16, 4, 5))
    val seeded = recallOf(
      PipelineOps.ivfTopK(emb, isProbe, nLists = 16, nProbe = 4, k = 5))
    info(s"recall@5 at nProbe=4: trained=$trained seeded=$seeded " +
         f"(delta=${trained - seeded}%+.2f)")
    // measured 0.96 on the fixture, slack for a borderline float nudge
    assert(trained >= 0.90,
      s"trained recall floor broken at the key's operating point: $trained")
  }
}
