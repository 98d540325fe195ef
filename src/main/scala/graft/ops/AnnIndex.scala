package graft.ops

import graft.sources.SnapshotLake
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF (inverted-file) index for approximate nearest-neighbor
  * serving — the production shape the query-time-built `ivfTopK`
  * deliberately is not (r14 verdict item: "a production vector pipeline
  * builds the index once and serves many probes from it").
  *
  * Layout: one index root = two [[SnapshotLake]] tables —
  *  - `<root>/centroids`: (cid INT, carr ARRAY<DOUBLE>) — the k-means
  *    TRAINED list centroids (not arbitrary seed vectors), tiny,
  *    broadcast at every serve.
  *  - `<root>/lists`: (cid INT, vec_id LONG, vec ARRAY<DOUBLE>, nrm
  *    DOUBLE) — the inverted lists themselves: each corpus vector stored
  *    WITH its norm under its nearest centroid, range-laid-out by cid so
  *    a probe's `cid IN (...)` scan prunes to the probed lists'
  *    row-groups instead of the corpus.
  *
  * Training is SPHERICAL k-means under the q_kmeans exact-arithmetic
  * discipline: assignment by cosine (sequential-order dot products —
  * bit-reproducible cross-engine, the proven q_ann_recall idiom), ties
  * to the smallest cid, re-estimated centroids round-6 means from exact
  * decimal sums. Cosine to a mean is scale-invariant, so the means
  * serve directly as list centroids.
  * Training runs on a deterministic SAMPLE (`vec_id % sampleMod == 0`)
  * — the standard IVF practice; only the final full-corpus assignment
  * touches every vector, and that pass is one narrow broadcast
  * projection (no shuffle to assign).
  *
  * Scale: centroids are O(√n) rows (the classic nLists ≈ √n rule), the
  * lists table is corpus-sized but append-only — [[append]] assigns ONLY
  * the new vectors against the persisted centroids and commits an
  * incremental snapshot, so index maintenance never rewrites history.
  * Serving reads `nProbe/nLists` of the corpus per probe batch.
  */
object AnnIndex {

  /** Double-array dot product (HOF form): the index stores vectors as
    * ARRAY<DOUBLE> (the trained-centroid arithmetic needs doubles), so
    * the codegen'd float-only DotProduct expression does not apply. */
  private[ops] def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (p, q) => p + q)

  /** Each probe's top-`k` rows of a (probe_id, vec_id, cos) frame, ranked
    * in `rn` by cosine DESC with ties to the smaller vec_id: the one serve
    * order of every similarity key, the index serves and the IVF serve. */
  def cosTopK(scored: DataFrame, k: Int): DataFrame =
    QueryPack.topK(scored, Seq("probe_id"),
      Seq(col("cos").desc, col("vec_id")), k)

  /** Per-vector ordered centroid preferences, computed IN-ROW: one
    * broadcast of the (sorted) centroid array (norms precomputed), one
    * `transform` building (-cos, cid) structs, one `array_sort` — no
    * explode, no shuffle, and the nLists× fan-out never materializes.
    * COSINE is the assignment metric everywhere (spherical k-means):
    * the serve-time score is cosine, so list membership and probe
    * routing must rank by the same geometry — Euclidean assignment
    * measurably loses recall at fixed nProbe (AnnIndexSpec history).
    * Cosine to a mean centroid is scale-invariant, so the Lloyd means
    * never need renormalizing. Output column `clist` is the (-cos, cid)
    * struct array ascending = cosine DESC, ties to the smaller cid. */
  private def withClist(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val oneRow = cents
      .select(col("cid"), col("carr"),
        sqrt(dotD(col("carr"), col("carr"))).as("cnrm"))
      .agg(array_sort(collect_list(
        struct(col("cid"), col("carr"), col("cnrm")))).as("cents"))
    vecs.crossJoin(broadcast(oneRow))
      .withColumn("clist", array_sort(transform(col("cents"),
        c => struct(
          (-(dotD(col("vec"), c.getField("carr")) /
            (col("nrm") * c.getField("cnrm")))).as("negcos"),
          c.getField("cid").as("cid")))))
      .drop("cents")
  }

  /** Best-cosine centroid id per vector (the spherical-Lloyd assignment /
    * the list a vector files under). */
  private def assignCid(vecs: DataFrame, cents: DataFrame): DataFrame =
    withClist(vecs, cents)
      .withColumn("cid", element_at(col("clist"), 1).getField("cid"))
      .drop("clist")

  /** Normalize an embeddings frame to (vec_id, vec ARRAY<DOUBLE>, nrm). */
  private def vecsOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("vec"))
      .withColumn("nrm", sqrt(dotD(col("vec"), col("vec"))))

  /** Loud dimension gate (r16 advisor item): [[dotD]]'s zip_with
    * null-pads mismatched-length arrays, so a wrong-dimension query or
    * appended vector would otherwise surface as a null cosine silently
    * sorting LAST in the ranking — mysteriously missing neighbors
    * instead of an error. Wraps the vector column so any row whose
    * length differs from the index dimension throws at scan time. */
  private def checkedVec(vec: Column, d: Int, what: String): Column =
    when(assert_true(size(vec) === d,
      concat(lit(s"$what vector dim "), size(vec).cast("string"),
        lit(s" does not match index dim $d"))).isNull, vec)

  /** The index's vector dimension = the persisted centroids' (one tiny
    * row read). */
  private def centroidDim(cents: DataFrame): Int =
    cents.select(size(col("carr"))).head.getInt(0)

  /** Train `nLists` centroids with one Lloyd re-estimation round over the
    * deterministic `vec_id % sampleMod == 0` sample (init = the sample's
    * nLists SMALLEST vec_ids seeded by RANK, round-6 — the q_kmeans
    * fixed-seed convention). Rank seeding (r16, advisor item) makes the
    * init corpus-shape-independent: an id space starting at an offset or
    * filtered sparse still yields exactly nLists seeds, where the old
    * `vec_id < nLists*sampleMod` absolute-value cut silently under-seeded.
    * On a dense-from-0 id space the two rules pick identical seeds, so
    * the oracle stays in lockstep. Returns (cid INT, carr ARRAY<DOUBLE
    * round-6>). NOTE: a centroid can still end up empty after assignment
    * (dropped row) — [[build]] requires count == nLists so a degenerate
    * corpus fails loudly instead of committing a broken index. */
  def trainCentroids(emb: DataFrame, nLists: Int,
                     sampleMod: Int = 1, rounds: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sample = vecsOf(emb).filter(col("vec_id") % sampleMod === 0)
    // TakeOrderedAndProject (orderBy+limit) keeps the seed pick planned and
    // scale-safe; the rank window then runs over only nLists rows.
    val c0 = sample.select(col("vec_id"), col("vec"))
      .orderBy(col("vec_id")).limit(nLists)
      .select(
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("int").as("cid"),
        transform(col("vec"), v => round(v, 6)).as("carr"))
    // rounds = 1 is the contract shape (q_ann_ivf oracle lockstep); the
    // extra rounds checkpoint between iterations to cut lineage growth
    (1 until rounds).foldLeft(reestimate(sample, c0))((c, _) =>
      reestimate(sample, c.localCheckpoint()))
  }

  /** Round-6 exact-decimal mean vector per cid of a (cid, vec) frame. */
  private def meanOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(sum(col("v").cast(org.apache.spark.sql.types
          .DecimalType(28, 10))).cast("double") /
        count(lit(1)).cast("double"), 6).as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        pc => pc.getField("c")).as("carr"))

  /** One Lloyd re-estimation round: assign `sample` (vec/nrm frame) to
    * `cents`, re-average per cid (round-6 exact-decimal means). */
  private def reestimate(sample: DataFrame, cents: DataFrame): DataFrame =
    meanOf(assignCid(sample, cents))

  /** Build the persisted index: train centroids, assign every vector,
    * commit both tables as fresh snapshots. Returns the lists snapshot
    * id. The lists frame is range-partitioned by cid before the write so
    * each parquet file covers a contiguous cid band (probe-side
    * data-skipping). */
  def build(emb: DataFrame, root: String, nLists: Int,
            sampleMod: Int = 1): Long = {
    val cents = trainCentroids(emb, nLists, sampleMod).localCheckpoint()
    // Fail LOUDLY on a degenerate corpus (too few sample vectors, or an
    // empty list after the Lloyd round) instead of committing an index
    // whose probes silently return short/empty results (r16 advisor item).
    val nc = cents.count()
    require(nc == nLists,
      s"trainCentroids produced $nc centroids, expected $nLists — " +
      "corpus sample too small or a seed list went empty; not committing")
    SnapshotLake.commit(cents, s"$root/centroids", append = false)
    val lists = assignCid(vecsOf(emb), cents)
      .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
      .repartitionByRange(col("cid"))
    SnapshotLake.commit(lists, s"$root/lists", append = false)
  }

  /** Incremental maintenance: assign ONLY the new vectors against the
    * PERSISTED centroids and append one snapshot to the lists table —
    * history (and every `readAt`) stays byte-stable, centroids untouched.
    * Returns the new lists snapshot id. */
  def append(spark: SparkSession, newEmb: DataFrame, root: String): Long = {
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")
    val d = centroidDim(cents)
    val checked = vecsOf(newEmb)
      .withColumn("vec", checkedVec(col("vec"), d, "appended"))
    val lists = assignCid(checked, cents)
      .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
      .repartitionByRange(col("cid"))
    SnapshotLake.commit(lists, s"$root/lists", append = true)
  }

  /** Drift-triggered retrain (r16, VERDICT r15 item 4): [[append]] never
    * retrains by spec, so appended mass that drifts from the trained
    * centroids degrades recall at fixed nProbe (AnnIndexSpec measures the
    * decay). `rebuild` retrains on the CURRENT corpus (base + every
    * append, read from the lists table itself) and re-files every vector,
    * under the same optimistic discipline as `SnapshotLake.compact`
    * (one `SnapshotLake.publish`): the rewrite targets exactly base+1 and
    * returns None if ANY commit (i.e. a concurrent [[append]]) landed
    * meanwhile — retrying with the stale rewrite would silently DROP the
    * racing append's vectors, so the caller re-invokes on the new base
    * instead and no append is ever lost. On success the centroids table
    * is replaced after the lists CAS lands; the one-commit window where
    * new lists serve beside old centroids can only misroute probes
    * (recall, not correctness) and closes at the next statement —
    * maintenance is single-writer by the same assumption compact makes.
    * Returns Some(new lists snapshot id), or None on a lost race. */
  def rebuild(spark: SparkSession, root: String, nLists: Int,
              sampleMod: Int = 1): Option[Long] = {
    val listsT = s"$root/lists"
    val base = SnapshotLake.latest(spark, listsT).getOrElse(
      throw new IllegalArgumentException(s"no built index at $root"))
    val corpus = SnapshotLake.readAt(spark, listsT, base)
      .select(col("vec_id"), col("vec").as("embedding"))
    val cents = trainCentroids(corpus, nLists, sampleMod).localCheckpoint()
    val nc = cents.count()
    require(nc == nLists,
      s"rebuild trained $nc centroids, expected $nLists — not committing")
    val lists = assignCid(vecsOf(corpus), cents)
      .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
      .repartitionByRange(col("cid"))
    val dir = SnapshotLake.writeData(lists, listsT, 1000000L)
    SnapshotLake.publish(spark, listsT, base, Seq(dir), Nil, None).map { id =>
      SnapshotLake.commit(cents, s"$root/centroids", append = false)
      id
    }
  }

  /** Hot-list re-balance (r17, VERDICT r16 item 8): [[append]] files new
    * vectors under the EXISTING centroids, so drifted append mass piles
    * into few lists and a probe touching a hot list reads far more than
    * corpus/nLists — read amplification grows even when recall holds.
    * `rebalance` SPLITS every list whose residency exceeds
    * `maxSkew × mean`: a local rank-seeded 2-means (the
    * [[trainCentroids]] discipline, k=2) over the hot list's own members
    * replaces its centroid with two (the first keeps the old cid, the
    * second takes a fresh id above the current max), and ONLY the hot
    * lists' vectors re-file — cold lists are untouched rows in the
    * rewritten snapshot. The PQ layer, when present, re-encodes exactly
    * the moved vectors against their new residuals under the PERSISTED
    * codebook (codebook drift is [[rebuild]]+buildPq territory;
    * AnnPqSpec measures recall across the split).
    *
    * Same single-CAS discipline as [[rebuild]]: the lists rewrite
    * targets exactly base+1 and returns None on a lost race (a racing
    * [[append]] is never dropped); centroids and codes follow after the
    * lists CAS lands (the one-commit windows only misroute probes, not
    * correctness, and close at the next statement). Returns
    * Some(new lists snapshot id), Some(base) when nothing is hot. */
  def rebalance(spark: SparkSession, root: String,
                maxSkew: Double = 2.0): Option[Long] = {
    require(maxSkew > 1.0, s"maxSkew must exceed 1.0, got $maxSkew")
    val listsT = s"$root/lists"
    val base = SnapshotLake.latest(spark, listsT).getOrElse(
      throw new IllegalArgumentException(s"no built index at $root"))
    val lists = SnapshotLake.readAt(spark, listsT, base).localCheckpoint()
    val counts = lists.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("cid") -> r.getAs[Long]("n"))
    val mean = counts.map(_._2).sum.toDouble / counts.length
    val hot = counts.filter(_._2 > maxSkew * mean).map(_._1).sorted
    if (hot.isEmpty) return Some(base)
    var nextCid = counts.map(_._1).max + 1
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")

    // split each hot list: local 2-means over its members, old cid +
    // one fresh cid, members re-filed between the two
    val splits = hot.flatMap { h =>
      val members = vecsOf(lists.filter(col("cid") === h)
        .select(col("vec_id"), col("vec").as("embedding")))
        .localCheckpoint()
      // MEDIAN-SPLIT init (deterministic, inside the mass): halve the
      // list at the median cosine-to-its-own-centroid and seed Lloyd
      // with the two halves' means. Seeding with member PAIRS (rank or
      // maximin) puts at least one seed on the list's fringe, and for
      // the common hot shape — one dominant direction plus structure —
      // Lloyd then only shaves fringe points; the balanced radial
      // split starts both seeds in the mass, so the rounds converge to
      // a genuine partition of it.
      val withC = members.crossJoin(broadcast(
          cents.filter(col("cid") === h).select(col("carr").as("cv"),
            sqrt(dotD(col("carr"), col("carr"))).as("cn"))))
        .withColumn("cosC",
          dotD(col("vec"), col("cv")) / (col("nrm") * col("cn")))
      val med = withC.agg(expr("percentile(cosC, 0.5)")).head.getDouble(0)
      val c0 = meanOf(withC
          .withColumn("cid", when(col("cosC") <= med, lit(h))
            .otherwise(lit(nextCid)).cast("int"))
          .select(col("cid"), col("vec")))
        .localCheckpoint()
      val two =
        if (c0.count() < 2) c0 // point mass: both halves identical
        else (1 to 3).foldLeft(c0)((c, _) =>
          reestimate(members, c).localCheckpoint())
      // a degenerate list (all-identical vectors) collapses to one
      // surviving centroid: nothing to split, leave the list as-is
      if (two.count() < 2) None
      else {
        val refiled = assignCid(members, two)
          .select(col("cid"), col("vec_id"), col("vec"), col("nrm"))
          .localCheckpoint()
        // effectiveness gate: a split that strands under 1/32 of the
        // members on one side neither fixes read amplification nor
        // terminates (a pile of near-identical vectors — an un-deduped
        // near-dup cluster — is IRREDUCIBLE by centroid geometry; that
        // mass is q_dedup_embed's job). Skip it; rebalance then reaches
        // a fixpoint instead of livelocking.
        val sizes = refiled.groupBy(col("cid")).count()
          .collect().map(_.getLong(1))
        if (sizes.length < 2 || sizes.min < sizes.sum / 32.0) None
        else {
          nextCid += 1
          Some((h, two, refiled))
        }
      }
    }
    if (splits.isEmpty) return Some(base)
    val splitCids = splits.map(_._1).toSeq
    val newLists = splits.map(_._3)
      .foldLeft(lists.filter(!col("cid").isin(splitCids: _*)))(_ unionByName _)
      .repartitionByRange(col("cid"))
    val dir = SnapshotLake.writeData(newLists, listsT, 1000000L)
    if (SnapshotLake.publish(spark, listsT, base, Seq(dir), Nil, None).isEmpty)
      return None
    val newCents = splits.map(_._2)
      .foldLeft(cents.filter(!col("cid").isin(splitCids: _*)))(_ unionByName _)
    SnapshotLake.commit(newCents, s"$root/centroids", append = false)
    // PQ layer catch-up: re-encode exactly the moved vectors' residuals
    val codesT = s"$root/pq/codes"
    if (SnapshotLake.latest(spark, codesT).isDefined) {
      val cb = SnapshotLake.readLatest(spark, s"$root/pq/codebook")
      val m = cb.agg(countDistinct(col("sub"))).head.getLong(0).toInt
      val moved = splits.map(_._3).reduce(_ unionByName _)
      val resid = withResiduals(moved,
        splits.map(_._2).reduce(_ unionByName _))
      val movedCodes = encodePq(
          resid.select(col("vec_id"), col("rvec").as("vec")),
          groupCodebook(cb), m)
        .join(resid.select(col("cid"), col("vec_id"), col("nrm")),
          Seq("vec_id"))
        .select(col("cid"), col("vec_id"), col("codes"), col("nrm"))
      val keep = SnapshotLake.readLatest(spark, codesT)
        .filter(!col("cid").isin(splitCids: _*))
      SnapshotLake.commit(keep.unionByName(movedCodes)
        .repartitionByRange(col("cid")), codesT, append = false)
    }
    Some(base + 1)
  }

  /** Vector deletion (r18, VERDICT r17 item 4): remove `ids`' vectors
    * from the index so a dedup pipeline that drops documents can drop
    * their vectors without a full [[rebuild]]. Copy-on-write at the
    * lake's directory granularity ([[SnapshotLake.deleteMatching]]):
    * only the data directories actually holding doomed vectors rewrite
    * (broadcast semi-join probe; the doomed set is the small side by
    * construction), every other directory survives into the new manifest
    * untouched, and history stays byte-stable — a reader pinned at the
    * pre-delete snapshot still sees every vector.
    *
    * Single-CAS like [[rebuild]]/[[rebalance]]: the lists commit targets
    * exactly base+1 and returns None on a lost race, so a racing
    * [[append]] is never dropped — the caller re-invokes on the new
    * base. Centroids are untouched (an emptied list simply serves
    * nothing). The PQ layer, when present, drops the same ids AFTER the
    * lists CAS lands (the standard follow-the-authority discipline of
    * this file; the one-commit window where a stale code survives can
    * only waste a shortlist slot — the exact re-rank joins the lists
    * table, where the vector is already gone). Returns Some(new lists
    * snapshot id), Some(base) when no id is present. */
  def delete(spark: SparkSession, root: String,
             ids: DataFrame): Option[Long] = {
    val listsT = s"$root/lists"
    val keys = ids.select(col("vec_id"))
    SnapshotLake.deleteMatching(spark, listsT, keys, Seq("vec_id")) match {
      case None => None
      case some =>
        val codesT = s"$root/pq/codes"
        if (SnapshotLake.latest(spark, codesT).isDefined) {
          // codes maintenance is single-writer by the same assumption
          // appendPq makes; a bounded retry absorbs its own CAS noise
          var attempts = 0
          var done = false
          while (!done && attempts < 8) {
            done = SnapshotLake.deleteMatching(spark, codesT, keys,
              Seq("vec_id")).isDefined
            attempts += 1
          }
          require(done,
            s"PQ code removal lost $attempts CAS races at $codesT — " +
            "a concurrent codes writer is live; re-run delete")
        }
        some
    }
  }

  // ------------------------------------------------------------------
  // Product quantization (r16): compressed-domain serving. At corpus
  // scale the lists table is the cost — d doubles + norm per vector
  // (64 dims = 512 B) — and every probe batch re-reads nProbe/nLists of
  // it. PQ stores m small codes per vector instead (m=8 → ~8 B, a ~60×
  // scan-size cut) and scores probes against the codes with an
  // asymmetric-distance LUT: per probe, one m×nCodes table of partial
  // inner products against the codebook, then each candidate costs m
  // array lookups + adds instead of d multiplies. Serving is two-stage
  // (the production IVF-PQ shape): ADC shortlist over the compressed
  // codes, exact re-rank of the top k·refine against the full vectors —
  // the full-vector read shrinks from "every candidate in the probed
  // lists" to "the shortlist".
  // ------------------------------------------------------------------

  /** Per-(vector, subspace) best code: L2² argmin over the broadcast
    * per-sub codebook, in-row (no explode of the candidate set), ties to
    * the smaller code. `subs` = (vec_id, sub, svec); `cbBySub` = (sub,
    * codes ARRAY<STRUCT<code, carr>>). */
  private def assignCodes(subs: DataFrame, cbBySub: DataFrame): DataFrame =
    subs.join(broadcast(cbBySub), Seq("sub"))
      .withColumn("best", array_min(transform(col("codes"), c => struct(
        aggregate(zip_with(col("svec"), c.getField("carr"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, b) => a + b).as("d2"),
        c.getField("code").as("code")))))
      .select(col("vec_id"), col("sub"),
        col("best").getField("code").as("code"))

  /** Explode (vec_id, vec) into (vec_id, sub, svec) — `m` contiguous
    * subspaces of `size(vec)/m` dims each. */
  private def subvectors(vecs: DataFrame, m: Int): DataFrame = {
    val sw = (size(col("vec")) / m).cast("int")
    vecs.select(col("vec_id"), col("vec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        slice(col("vec"), col("sub") * sw + 1, sw).as("svec"))
  }

  /** Group a (sub, code, carr) codebook into broadcastable per-sub rows:
    * (sub, codes ARRAY<STRUCT<code, carr>> sorted by code). */
  private def groupCodebook(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("code"), col("carr"))))
        .as("codes"))

  /** Train an m-subspace, nCodes-per-subspace product-quantizer codebook
    * under the trainCentroids discipline: rank-seeded init (the sample's
    * nCodes smallest vec_ids, per subspace), `rounds` Lloyd
    * re-estimation rounds (PQ codebooks need more than the coarse
    * quantizer's single round — they carry the fine structure), L2
    * assignment on subvectors (the standard PQ metric — the codebook
    * approximates the vectors themselves; serving computes inner
    * products against the reconstruction), round-6 means from exact
    * decimal sums, ties to the smaller code. A code that loses all its
    * members in a round KEEPS its previous centroid (the m×nCodes shape
    * is structural — buildPq requires it). Returns (sub INT, code INT,
    * carr ARRAY<DOUBLE>). Requires size(vec) % m == 0 (fails in slice
    * arithmetic otherwise — callers validate). */
  def trainPq(emb: DataFrame, m: Int, nCodes: Int,
              sampleMod: Int = 1, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sample = vecsOf(emb).filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("vec"))
    // trainPq is public: validate divisibility HERE, not only in buildPq
    // (r16 advisor item) — a non-divisible dim would otherwise floor the
    // subvector width and silently TRUNCATE every vector's tail dims out
    // of the codebook (silent recall corruption, not a loud failure).
    val dTrain = sample.select(size(col("vec"))).head.getInt(0)
    require(dTrain % m == 0,
      s"vector dim $dTrain not divisible by m=$m subspaces")
    val sw = (size(col("vec")) / m).cast("int")
    var cb = sample.orderBy(col("vec_id")).limit(nCodes)
      .select(
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("int").as("code"),
        col("vec"))
      .select(col("code"), col("vec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("sub"), col("code"),
        transform(slice(col("vec"), col("sub") * sw + 1, sw),
          v => round(v, 6)).as("carr"))
      .localCheckpoint()
    // the subvector grain is reused every round — cut its lineage once
    val subs = subvectors(sample, m).localCheckpoint()
    for (_ <- 1 to rounds) {
      val means = assignCodes(subs, groupCodebook(cb))
        .join(subs, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("svec")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(sum(col("v").cast(org.apache.spark.sql.types
            .DecimalType(28, 10))).cast("double") /
          count(lit(1)).cast("double"), 6).as("c"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          pc => pc.getField("c")).as("mcarr"))
      cb = cb.withColumnRenamed("carr", "prev")
        .join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("mcarr"), col("prev")).as("carr"))
        .localCheckpoint()
    }
    cb
  }

  /** Residuals of the lists corpus against its own coarse centroids:
    * (cid, vec_id, vec, nrm, rvec = vec − centroid[cid]). Residual
    * encoding is what makes IVF-PQ work — the coarse position is already
    * paid for by cid, so the codes spend their bits on the fine
    * structure. */
  private def withResiduals(corpus: DataFrame, cents: DataFrame): DataFrame =
    corpus.join(broadcast(cents), Seq("cid"))
      .withColumn("rvec", zip_with(col("vec"), col("carr"),
        (x, c) => x - c))
      .drop("carr")

  /** Encode (vec_id, vec) rows as (vec_id, codes ARRAY<INT> length m)
    * against a trained codebook. */
  private def encodePq(vecs: DataFrame, cbBySub: DataFrame,
                       m: Int): DataFrame =
    assignCodes(subvectors(vecs, m), cbBySub)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        sc => sc.getField("code")).as("codes"))

  /** Build the PQ layer over an ALREADY-BUILT index root: train the
    * codebook on the corpus's RESIDUALS against its coarse centroids
    * (the IVF-PQ form — cid already encodes the coarse position, so the
    * codes spend their bits on the fine structure), encode every
    * vector's residual, and commit `<root>/pq/codebook` (sub, code,
    * carr) and `<root>/pq/codes` (cid, vec_id, codes, nrm — cid kept so
    * probes prune the codes table exactly like the lists table;
    * range-laid-out by cid). Full-replace commits: the PQ layer is a
    * FUNCTION of the lists snapshot + centroids, rebuilt by re-running
    * buildPq (or caught up incrementally by [[appendPq]]). Returns the
    * codes snapshot id. */
  def buildPq(spark: SparkSession, root: String, m: Int, nCodes: Int,
              sampleMod: Int = 1, rounds: Int = 4): Long = {
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")
    val corpus = withResiduals(
      SnapshotLake.readLatest(spark, s"$root/lists"), cents)
    val d = corpus.select(size(col("vec"))).head.getInt(0)
    require(d % m == 0, s"vector dim $d not divisible by m=$m subspaces")
    val cb = trainPq(
      corpus.select(col("vec_id"), col("rvec").as("embedding")),
      m, nCodes, sampleMod, rounds).localCheckpoint()
    val ncb = cb.count()
    require(ncb == m.toLong * nCodes,
      s"trainPq produced $ncb codebook entries, expected ${m * nCodes} — " +
      "corpus sample too small or an empty code; not committing")
    SnapshotLake.commit(cb, s"$root/pq/codebook", append = false)
    val codes = encodePq(
        corpus.select(col("vec_id"), col("rvec").as("vec")),
        groupCodebook(cb), m)
      .join(corpus.select(col("cid"), col("vec_id"), col("nrm")),
        Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("codes"), col("nrm"))
      .repartitionByRange(col("cid"))
    SnapshotLake.commit(codes, s"$root/pq/codes", append = false)
  }

  /** Incremental PQ maintenance after [[append]]: encode exactly the
    * lists rows not yet in the codes table (anti-join on vec_id — one
    * maintenance-time shuffle, self-healing regardless of how many
    * appends landed since the last catch-up) against the PERSISTED
    * codebook, and append one snapshot. Codebook and history stay
    * byte-stable; like [[append]], accumulated drift is [[rebuild]] +
    * buildPq territory. Returns the new codes snapshot id (None if
    * already caught up). */
  def appendPq(spark: SparkSession, root: String): Option[Long] = {
    val lists = SnapshotLake.readLatest(spark, s"$root/lists")
    val codesT = s"$root/pq/codes"
    val have = SnapshotLake.readLatest(spark, codesT).select(col("vec_id"))
    val missing = lists.join(have, Seq("vec_id"), "left_anti")
    if (missing.isEmpty) return None
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")
    val cb = SnapshotLake.readLatest(spark, s"$root/pq/codebook")
    val m = cb.agg(countDistinct(col("sub"))).head.getLong(0).toInt
    val resid = withResiduals(missing, cents)
    val codes = encodePq(resid.select(col("vec_id"), col("rvec").as("vec")),
        groupCodebook(cb), m)
      .join(resid.select(col("cid"), col("vec_id"), col("nrm")),
        Seq("vec_id"))
      .select(col("cid"), col("vec_id"), col("codes"), col("nrm"))
      .repartitionByRange(col("cid"))
    Some(SnapshotLake.commit(codes, codesT, append = true))
  }

  /** Two-stage IVF-PQ serving: route probes to `nProbe` lists (same
    * centroid geometry as [[topK]]), ADC-score the probed lists'
    * COMPRESSED codes (per probe: one m×nCodes LUT of partial inner
    * products against the RESIDUAL codebook, then m lookups+adds per
    * candidate plus the per-list coarse term <probe, centroid> — the
    * reconstruction is centroid + residual codewords), shortlist the top
    * k·`refine` per probe, and re-rank the shortlist EXACTLY against the
    * full vectors (round-4 cosine, ties to smaller vec_id — byte-identical
    * discipline to [[topK]]). The full-vector table is touched only for
    * the shortlist, joined on (cid, vec_id) so the range layout prunes.
    * `nProbe = nLists` with `refine` ≥ corpus/k degrades to exactly
    * [[topK]]'s brute-force identity (AnnPqSpec pins it). ADC cosine is
    * approximate (reconstruction-level); the refine stage restores exact
    * scores, so `refine` trades recall against full-vector reads. */
  def topKPq(spark: SparkSession, root: String, queries: DataFrame,
             nProbe: Int, k: Int, refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")
    val cb = SnapshotLake.readLatest(spark, s"$root/pq/codebook")
    val codes = SnapshotLake.readLatest(spark, s"$root/pq/codes")
    val lists = SnapshotLake.readLatest(spark, s"$root/lists")
    val m = cb.agg(countDistinct(col("sub"))).head.getLong(0).toInt
    // probe-side dimension gates: wrong-dim queries fail loudly (not a
    // null-padded cosine), and the in-row LUT slices assume d % m == 0
    val d = centroidDim(cents)
    require(d % m == 0, s"index dim $d not divisible by m=$m subspaces")
    val checkedQ = queries
      .withColumn("pe", checkedVec(col("pe"), d, "probe"))
    // one-row broadcast codebook: [sub][code] -> carr
    val cbRow = groupCodebook(cb)
      .agg(array_sort(collect_list(struct(col("sub"),
        transform(col("codes"), c => c.getField("carr")).as("arrs"))))
        .as("cbs"))
    val probes = routeProbes(checkedQ, cents, nProbe)
      // the coarse term, once per (probe, list): <probe, centroid[cid]>
      .join(broadcast(cents), Seq("cid"))
      .withColumn("qc", dotD(col("pe"), col("carr")))
      .drop("carr")
      // the ADC lookup table, built in-row per (probe, list) grain:
      // lut[sub][code] = <probe_subvector, residual_codebook[sub][code]>
      .crossJoin(broadcast(cbRow))
      .withColumn("lut", transform(col("cbs"), s0 =>
        transform(s0.getField("arrs"), carr =>
          aggregate(zip_with(
            slice(col("pe"),
              s0.getField("sub") * (size(col("pe")) / m).cast("int") + 1,
              (size(col("pe")) / m).cast("int")),
            carr, (x, y) => x * y), lit(0.0), (a, b) => a + b))))
      .drop("cbs")
    val scoredAdc = probes.join(codes, Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc",
        (col("qc") + aggregate(zip_with(col("lut"), col("codes"),
          (l, c) => element_at(l, c + 1)), lit(0.0), (a, b) => a + b)) /
        (col("pnrm") * col("nrm")))
    val shortlist = QueryPack.topK(scoredAdc, Seq("probe_id"),
        Seq(col("adc").desc, col("vec_id")), k * refine, "arn")
      .select(col("probe_id"), col("pe"), col("pnrm"), col("cid"),
        col("vec_id"))
    serveTopK(shortlist.join(lists, Seq("cid", "vec_id")), k)
  }

  /** Serve cosine top-`k` for a (probe_id, pe ARRAY<DOUBLE>) query frame
    * from the persisted index: broadcast the centroid table, rank each
    * probe's lists by cosine DESC (ties to smaller cid — the withClist
    * (-cos, cid) struct sort; same geometry as list assignment),
    * scan only the `nProbe` nearest lists, score round-4 cosine, keep
    * k per probe. `nProbe = nLists` degrades to exact brute force
    * (AnnIndexSpec pins the identity). */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
           nProbe: Int, k: Int): DataFrame = {
    val cents = SnapshotLake.readLatest(spark, s"$root/centroids")
    val lists = SnapshotLake.readLatest(spark, s"$root/lists")
    val checkedQ = queries
      .withColumn("pe", checkedVec(col("pe"), centroidDim(cents), "probe"))
    serveTopK(routeProbes(checkedQ, cents, nProbe).join(lists, Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id")), k)
  }

  /** Each probe of a (probe_id, pe) frame routed to its `nProbe` best
    * lists (the withClist order), as (probe_id, pe, pnrm, cid). */
  private def routeProbes(checkedQ: DataFrame, cents: DataFrame,
                          nProbe: Int): DataFrame =
    withClist(
        checkedQ.select(col("probe_id").as("vec_id"), col("pe").as("vec"))
          .withColumn("nrm", sqrt(dotD(col("vec"), col("vec")))),
        cents)
      .select(col("vec_id").as("probe_id"), col("vec").as("pe"),
        col("nrm").as("pnrm"),
        posexplode(slice(col("clist"), 1, nProbe)).as(Seq("pp", "dc")))
      .select(col("probe_id"), col("pe"), col("pnrm"),
        col("dc").getField("cid").as("cid"))

  /** [[cosTopK]] of routed probe rows joined to their list vectors
    * (probe_id, pe, pnrm, vec_id, vec, nrm), scored by exact round-4
    * cosine, as (probe_id, rn, vec_id, cos). */
  private def serveTopK(cand: DataFrame, k: Int): DataFrame =
    cosTopK(cand.select(col("probe_id"), col("vec_id"),
        round(dotD(col("pe"), col("vec")) /
          (col("pnrm") * col("nrm")), 4).as("cos")), k)
      .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
}
