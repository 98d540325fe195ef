package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The centroid arithmetic and serve order of the IVF (inverted-file)
  * keys. q_ann_ivf and q_ann_recall serve from [[trainCentroids]]
  * through `PipelineOps.ivfTopKTrained` / `PipelineOps.annRecall`, and
  * every similarity key (q_similarity_topk too) ranks with [[cosTopK]].
  *
  * Training is SPHERICAL k-means under the q_kmeans exact-arithmetic
  * discipline: assignment by cosine (sequential-order dot products —
  * bit-reproducible cross-engine, the proven q_ann_recall idiom), ties
  * to the smallest cid, re-estimated centroids round-6 means from exact
  * decimal sums. Cosine to a mean is scale-invariant, so the means
  * serve directly as list centroids. The oracle trains the identical
  * round (`PipelineOps.trainedCentsSql`).
  */
object AnnIndex {

  /** Double-array dot product (HOF form): the centroids are
    * ARRAY<DOUBLE> (the trained-centroid arithmetic needs doubles), so
    * the codegen'd float-only DotProduct expression does not apply. */
  private[ops] def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (p, q) => p + q)

  /** Each probe's top-`k` rows of a (probe_id, vec_id, cos) frame, ranked
    * in `rn` by cosine DESC with ties to the smaller vec_id: the one serve
    * order of every similarity key and the IVF serve. */
  def cosTopK(scored: DataFrame, k: Int): DataFrame =
    QueryPack.topK(scored, Seq("probe_id"),
      Seq(col("cos").desc, col("vec_id")), k)

  /** Best-cosine centroid id per (vec_id, vec, nrm) row, computed IN-ROW:
    * one broadcast of the (sorted) centroid array (norms precomputed),
    * one `transform` building (-cos, cid) structs, one `array_sort` — no
    * explode, no shuffle, and the nLists× fan-out never materializes.
    * The (-cos, cid) struct array ascending = cosine DESC, ties to the
    * smaller cid. */
  private def assignCid(vecs: DataFrame, cents: DataFrame): DataFrame = {
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
      .withColumn("cid", element_at(col("clist"), 1).getField("cid"))
      .drop("clist")
  }

  /** Train `nLists` centroids with one Lloyd re-estimation round over the
    * whole corpus (init = its nLists SMALLEST vec_ids seeded by RANK,
    * round-6 — the q_kmeans fixed-seed convention). Rank seeding (r16)
    * makes the init corpus-shape-independent: an id space starting at an
    * offset or filtered sparse still yields exactly nLists seeds. Returns
    * (cid INT, carr ARRAY<DOUBLE round-6>); a seed list that ends up
    * empty after assignment drops its row. */
  def trainCentroids(emb: DataFrame, nLists: Int): DataFrame = {
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("vec"))
      .withColumn("nrm", sqrt(dotD(col("vec"), col("vec"))))
    // TakeOrderedAndProject (orderBy+limit) keeps the seed pick planned and
    // scale-safe; the rank window then runs over only nLists rows.
    val c0 = vecs.select(col("vec_id"), col("vec"))
      .orderBy(col("vec_id")).limit(nLists)
      .select(
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("int").as("cid"),
        transform(col("vec"), v => round(v, 6)).as("carr"))
    // the round-6 exact-decimal mean vector per assigned cid
    assignCid(vecs, c0)
      .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(sum(col("v").cast(org.apache.spark.sql.types
          .DecimalType(28, 10))).cast("double") /
        count(lit(1)).cast("double"), 6).as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        pc => pc.getField("c")).as("carr"))
  }
}
