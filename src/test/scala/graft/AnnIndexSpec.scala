package graft

import graft.ops.AnnIndex
import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index (r14 verdict item 3): centroids TRAINED with
  * the q_kmeans Lloyd discipline (not arbitrary seed vectors), index
  * built once as SnapshotLake tables, served many times, maintained by
  * incremental append — with the training math pinned by an independent
  * driver-side recomputation and serving pinned by the brute-force
  * degradation identity; hot-list `rebalance` splits a skewed index
  * without losing vectors or recall. */
class AnnIndexSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val NLists = 16

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def emb: DataFrame = Tables.embeddings(s, TestSpark.Sf0001)

  test("trainCentroids == an independent driver-side Lloyd round") {
    val got = AnnIndex.trainCentroids(emb, NLists).collect()
      .map(r => r.getAs[Int]("cid") ->
        r.getAs[scala.collection.Seq[Double]]("carr").toSeq).toMap
    assert(got.keySet == (0 until NLists).toSet)

    // independent recomputation: plain Scala spherical Lloyd — cosine
    // assignment via sequential-order dot products (the cross-engine
    // determinism idiom), ties to the smallest cid, round-6 re-estimated
    // means from exact decimal sums
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray)
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      s0
    }
    val seeds = vecs.take(NLists).map { case (id, v) =>
      id.toInt -> v.map(x => r6(x).toDouble)
    }
    val assigned = vecs.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      val coss = seeds.map { case (cid, c) =>
        cid -> dot(v, c) / (nrm * math.sqrt(dot(c, c)))
      }
      id -> coss.minBy { case (cid, cs) => (-cs, cid) }._1
    }
    val byId = vecs.toMap
    val expect = assigned.groupBy(_._2).map { case (cid, members) =>
      val vs = members.map(m => byId(m._1))
      cid -> vs.head.indices.map { i =>
        val sum = vs.map(v => BigDecimal(v(i)).setScale(10,
          BigDecimal.RoundingMode.HALF_UP)).foldLeft(BigDecimal(0))(_ + _)
        r6(sum.toDouble / vs.length).toDouble
      }.toSeq
    }
    assert(got.keySet == expect.keySet)
    got.foreach { case (cid, carr) =>
      assert(carr == expect(cid), s"centroid $cid drifted")
    }
  }

  test("build persists both tables; every vector filed under exactly one list") {
    val root = tmpDir("ann_idx")
    AnnIndex.build(emb, root, NLists)
    val cents = SnapshotLake.readLatest(s, s"$root/centroids")
    assert(cents.count() == NLists)
    val lists = SnapshotLake.readLatest(s, s"$root/lists")
    assert(lists.count() == emb.count(), "a vector is missing from the lists")
    assert(lists.select("vec_id").distinct().count() == emb.count(),
      "a vector is filed under two lists")
    // the inverted layout is live: every list id is a trained centroid id
    val cids = lists.select("cid").distinct().collect().map(_.getInt(0)).toSet
    assert(cids.subsetOf((0 until NLists).toSet))
  }

  test("append assigns only new vectors against persisted centroids; history byte-stable") {
    val root = tmpDir("ann_idx_inc")
    val old = emb.filter(col("vec_id") < 400)
    val fresh = emb.filter(col("vec_id") >= 400)
    AnnIndex.build(old, root, NLists)
    val firstId = SnapshotLake.latest(s, s"$root/lists").get
    val centsBefore = SnapshotLake.readLatest(s, s"$root/centroids").collect()
      .map(r => r.getAs[Int]("cid") ->
        r.getAs[scala.collection.Seq[Double]]("carr").toSeq).toMap

    AnnIndex.append(s, fresh, root)
    // centroids untouched — append must never retrain
    val centsAfter = SnapshotLake.readLatest(s, s"$root/centroids").collect()
      .map(r => r.getAs[Int]("cid") ->
        r.getAs[scala.collection.Seq[Double]]("carr").toSeq).toMap
    assert(centsAfter == centsBefore)
    // old snapshot is byte-stable; the new one is the union
    assert(SnapshotLake.readAt(s, s"$root/lists", firstId).count() == 400)
    val all = SnapshotLake.readLatest(s, s"$root/lists")
    assert(all.count() == emb.count())
    // appended vectors landed in the list a fresh assignment would pick:
    // re-building on the SAME centroids is order-independent
    val rebuilt = tmpDir("ann_idx_rebuild")
    AnnIndex.build(old, rebuilt, NLists) // same training set → same centroids
    AnnIndex.append(s, fresh, rebuilt)
    val a = all.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = SnapshotLake.readLatest(s, s"$rebuilt/lists")
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("topK at nProbe = nLists degrades to exact brute force; trained recall beats seeded") {
    val root = tmpDir("ann_idx_serve")
    AnnIndex.build(emb, root, NLists)
    // 50 probes, not the contract key's 5: a 25-pair sample flips ±0.04
    // per boundary neighbor, drowning the centroid-quality signal; at
    // 250 pairs the trained-vs-seeded ordering is stable at every nprobe
    val probes = emb.filter(col("vec_id") >= 10 && col("vec_id") < 60)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), v => v.cast("double")).as("pe"))
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("v"))
    // brute-force truth (the q_similarity_topk shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (p, q) => p + q)
    val exact = e.crossJoin(probes).filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("pe"), col("v")) /
          (sqrt(dot(col("pe"), col("pe"))) * sqrt(dot(col("v"), col("v")))),
          4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    val full = AnnIndex.topK(s, root, probes, nProbe = NLists, k = 5)
      .select("probe_id", "rn", "vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(full == exact, "nProbe=nLists must equal brute force exactly")

    // recall@5 at nProbe=4 from the TRAINED index vs the exact set
    val served = AnnIndex.topK(s, root, probes, nProbe = 4, k = 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = exact.map { case ((p, _), v) => (p, v) }.toSet
    val recallTrained = served.intersect(hits).size.toDouble / hits.size
    // seeded-centroid recall at the same nprobe, computed HERE from the
    // pre-r15 seed discipline (lists = raw vectors 0..15) so the
    // comparison stays valid after the contract key moves to trained
    // centroids
    val seededRecall = {
      val ivf = graft.ops.PipelineOps.ivfTopK(
          emb, col("vec_id") >= 10 && col("vec_id") < 60,
          nLists = NLists, nProbe = 4, k = 5)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(hits).size.toDouble / hits.size
    }
    assert(recallTrained >= seededRecall,
      s"trained-centroid recall $recallTrained < seeded $seededRecall")
  }

  test("append drift decays recall; rebuild retrains and recovers it (r16)") {
    // Lifecycle (VERDICT r15 item 4): append never retrains by spec, so
    // appended mass from a DIFFERENT distribution is filed under
    // centroids that never saw it — near-tie preferences scatter true
    // neighbor groups across lists and fixed-nProbe recall decays.
    // rebuild retrains on the full current corpus and re-files; recall
    // on the same probes must recover. Drift transform = per-coordinate
    // sign flip (the ScaleSmoke isometry): intra-set cosine structure is
    // preserved EXACTLY while cosines to every trained centroid collapse
    // toward 0.
    val root = tmpDir("ann_idx_drift")
    val base = emb.filter(col("vec_id") < 250)
    AnnIndex.build(base, root, NLists)
    val drifted = emb.filter(col("vec_id") >= 250)
      .select((col("vec_id") + 1000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> " +
             "CASE WHEN pmod(hash(7, i), 2) = 0 THEN x ELSE -x END)")
          .as("embedding"))
    AnnIndex.append(s, drifted, root)

    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (p, q) => p + q)
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(drifted)
      .select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("v"))
    val probes = drifted.filter(col("vec_id") < 1300)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), v => v.cast("double")).as("pe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    val hits = corpus.crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("pe"), col("v")) /
          (sqrt(dot(col("pe"), col("pe"))) * sqrt(dot(col("v"), col("v")))),
          4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select("probe_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double =
      AnnIndex.topK(s, root, probes, nProbe, k = 5)
        .select("probe_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(hits).size.toDouble / hits.size

    val decayed = recallAt(4)
    val rebuilt = AnnIndex.rebuild(s, root, NLists)
    assert(rebuilt.isDefined, "no concurrent writer — rebuild must commit")
    val recovered = recallAt(4)
    info(f"recall@5 nProbe=4 on drifted probes: decayed=$decayed%.3f " +
         f"rebuilt=$recovered%.3f")
    assert(recovered > decayed,
      s"rebuild did not recover recall: $decayed -> $recovered")

    // no vector lost: the rebuilt snapshot re-files the FULL corpus
    val lists = SnapshotLake.readLatest(s, s"$root/lists")
    assert(lists.count() == 500)
    assert(lists.select("vec_id").distinct().count() == 500)
    // centroids actually retrained (the drifted mass moved the means)
    val cents = SnapshotLake.readLatest(s, s"$root/centroids")
    assert(cents.count() == NLists)
    // pre-rebuild history stays byte-stable (time travel unaffected)
    assert(SnapshotLake.readAt(s, s"$root/lists", 1).count() == 250)
  }

  test("wrong-dimension probes and appends fail loudly, not null-pad (r17)") {
    val root = tmpDir("ann_idx_dim")
    AnnIndex.build(emb, root, NLists)
    // a probe with a truncated vector: zip_with would null-pad it into a
    // null cosine that silently sorts last — the r17 gate throws instead
    val badProbe = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"),
        slice(transform(col("embedding"), v => v.cast("double")),
          1, 5).as("pe"))
    val exK = intercept[Exception] {
      AnnIndex.topK(s, root, badProbe, nProbe = 2, k = 3).collect()
    }
    assert(exK.getMessage.contains("does not match index dim"),
      s"wrong failure: ${exK.getMessage}")
    // appended vectors with the wrong dim fail at append, never filed
    val badNew = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000).as("vec_id"),
        slice(col("embedding"), 1, 7).as("embedding"))
    val before = SnapshotLake.readLatest(s, s"$root/lists").count()
    val exA = intercept[Exception] {
      AnnIndex.append(s, badNew, root)
    }
    assert(exA.getMessage.contains("does not match index dim"))
    assert(SnapshotLake.readLatest(s, s"$root/lists").count() == before,
      "a failed append must not have committed rows")
    // correct-dimension probes still serve through the gate unchanged
    val okProbe = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), v => v.cast("double")).as("pe"))
    assert(AnnIndex.topK(s, root, okProbe, nProbe = NLists, k = 3)
      .count() == 9)
  }

  test("delete: conservation minus exactly the doomed ids, untouched dirs " +
       "survive by identity, history byte-stable, race never drops an " +
       "append (r18)") {
    import s.implicits._
    val root = tmpDir("ann_del")
    AnnIndex.build(emb, root, NLists)
    // a second data dir via append (shifted ids) so dir granularity is
    // observable: the doomed ids live ONLY in the appended dir
    val appended = emb.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    AnnIndex.append(s, appended, root)
    val listsT = s"$root/lists"
    val preDelete = SnapshotLake.latest(s, listsT).get
    val dirsBefore = SnapshotLake.manifestDirs(s, listsT, preDelete)
    val buildDir = SnapshotLake.manifestDirs(s, listsT, preDelete - 1).head
    val allIds = SnapshotLake.readLatest(s, listsT)
      .select("vec_id").as[Long].collect().toSet
    val doomed = Seq(100003L, 100017L, 100042L)
    assert(doomed.forall(allIds.contains))

    assert(AnnIndex.delete(s, root,
      doomed.toDF("vec_id")).contains(preDelete + 1))
    // conservation: survivors = all minus exactly the doomed ids
    val after = SnapshotLake.readLatest(s, listsT)
      .select("vec_id").as[Long].collect().toSet
    assert(after == allIds -- doomed)
    // dir granularity: the build dir (no doomed id) survives BY IDENTITY
    val dirsAfter = SnapshotLake.manifestDirs(s, listsT,
      SnapshotLake.latest(s, listsT).get)
    assert(dirsAfter.contains(buildDir),
      s"untouched dir must survive: $buildDir -> $dirsAfter")
    assert(dirsBefore.exists(!dirsAfter.contains(_)),
      "the doomed ids' dir must have been rewritten")
    // history byte-stable: the pre-delete snapshot still has every id
    assert(SnapshotLake.readAt(s, listsT, preDelete)
      .select("vec_id").as[Long].collect().toSet == allIds)
    // recall unchanged on survivors: full-probe serving == brute force
    // over the surviving corpus (the degradation identity, post-delete)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), v => v.cast("double")).as("pe"))
    val got = AnnIndex.topK(s, root, probes, nProbe = NLists, k = 5)
    assert(got.filter(col("vec_id").isin(doomed: _*)).isEmpty,
      "a deleted id must never serve")
    assert(got.groupBy("probe_id").count().collect()
      .forall(_.getLong(1) == 5))
    // deleting absent ids is a committed no-op returning the same base
    val base2 = SnapshotLake.latest(s, listsT).get
    assert(AnnIndex.delete(s, root,
      Seq(999999L).toDF("vec_id")).contains(base2))
    // racing append never dropped: a delete pinned at a stale base loses
    // the CAS loudly (None) and the racing append's vectors all survive
    val stale = SnapshotLake.latest(s, listsT).get
    AnnIndex.append(s, emb.select((col("vec_id") + 200000L).as("vec_id"),
      col("embedding")).filter(col("vec_id") < 200005L), root)
    assert(SnapshotLake.deleteMatchingFrom(s, listsT, stale,
      Seq(100001L).toDF("vec_id"), Seq("vec_id"), 1000000L).isEmpty,
      "a stale-base delete must lose the CAS, not clobber the append")
    val finalIds = SnapshotLake.readLatest(s, listsT)
      .select("vec_id").as[Long].collect().toSet
    assert((200000L until 200005L).forall(finalIds.contains),
      "the racing append's vectors must all survive the lost delete")
    assert(finalIds.contains(100001L),
      "the lost delete must not have removed its target")
  }

  test("rebalance splits hot lists: skew drops, recall holds, fixpoint restores the bound (r17)") {
    import org.apache.spark.sql.expressions.Window
    val root = tmpDir("ann_rebal")
    AnnIndex.build(emb, root, NLists)
    // skewed append: a broad 300-vector cloud dominated by vec 0's
    // direction (v0 + 0.15..0.30 of 50 distinct partner directions) —
    // realistic drift: one region grows hot, but the mass has internal
    // structure a 2-means split can separate
    val v0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("e0"))
    val drift = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
      .crossJoin(v0)
      .select(col("vec_id"), col("embedding"), col("e0"),
        explode(sequence(lit(0), lit(5))).as("j"))
      .select(
        (lit(1000L) + (col("vec_id") - 100) * 6 + col("j")).as("vec_id"),
        zip_with(col("e0"), col("embedding"), (a, b) =>
          a + b * (lit(0.15f) + col("j").cast("float") * lit(0.03f)))
          .as("embedding"))
    AnnIndex.append(s, drift, root)
    def residency: Map[Int, Long] = SnapshotLake
      .readLatest(s, s"$root/lists").groupBy(col("cid")).count()
      .collect().map(r => r.getAs[Int]("cid") -> r.getAs[Long]("count"))
      .toMap
    val before = residency
    val meanBefore = before.values.sum.toDouble / before.size
    assert(before.values.max > 2.0 * meanBefore,
      s"fixture must be skewed for this test: $before")

    // recall truth: exact cosine top-5 over the FULL corpus
    val corpus = SnapshotLake.readLatest(s, s"$root/lists")
      .select(col("vec_id"), col("vec").as("embedding"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"),
        transform(col("embedding"), v => v.cast("double")).as("pe"))
    val dot = (a: org.apache.spark.sql.Column,
               b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (p, q) => p + q)
    val e = corpus.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("v"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val truth = e.crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(dot(col("pe"), col("v")) /
          (sqrt(dot(col("pe"), col("pe"))) * sqrt(dot(col("v"), col("v")))),
          4).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallAt(nProbe: Int): Double = {
      val got = AnnIndex.topK(s, root, probes, nProbe, k = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (p, t) =>
        got.getOrElse(p, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val recallBefore = recallAt(3)

    val snap = AnnIndex.rebalance(s, root, maxSkew = 2.0)
    assert(snap.isDefined && snap.get > 0L, "rebalance must commit")
    val after = residency
    // no vector lost or duplicated
    assert(after.values.sum == before.values.sum)
    assert(SnapshotLake.readLatest(s, s"$root/lists")
      .select("vec_id").distinct().count() == before.values.sum)
    // the hot mass actually split: max residency strictly dropped and
    // the list count grew
    assert(after.values.max < before.values.max,
      s"split must shed the hot list: ${before.values.max} -> " +
      s"${after.values.max}")
    assert(after.size > before.size)
    assert(SnapshotLake.readLatest(s, s"$root/centroids").count() ==
      after.size.toLong)
    // recall at the same nProbe survives the split
    val recallAfter = recallAt(3)
    info(f"recall@5 nProbe=3: before=$recallBefore%.3f after=$recallAfter%.3f")
    assert(recallAfter >= recallBefore - 0.05,
      s"recall collapsed across rebalance: $recallBefore -> $recallAfter")
    // iterating to the fixpoint restores the residency bound — the
    // read-amplification contract (no list above maxSkew x mean) — and
    // the fixpoint call itself is a recorded no-op
    var last = snap.get
    var rounds = 0
    var settled = false
    while (!settled && rounds < 8) {
      val r = AnnIndex.rebalance(s, root, maxSkew = 2.0)
      assert(r.isDefined, "no concurrent writer — rebalance must commit")
      settled = r.get == last
      last = r.get
      rounds += 1
    }
    assert(settled, "rebalance must reach a fixpoint")
    val fin = residency
    val finMean = fin.values.sum.toDouble / fin.size
    assert(fin.values.max <= 2.0 * finMean,
      s"fixpoint must restore the residency bound: max=${fin.values.max} " +
      s"mean=$finMean")
  }
}
