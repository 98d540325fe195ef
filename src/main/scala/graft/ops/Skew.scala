package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew tooling for fact⋈fact joins whose key distribution is hot
  * (SCALE.md "joins"). AQE's skew-join split handles most cases at
  * runtime; explicit salting is the deterministic fallback when a single
  * key is so hot that even split partitions overwhelm executors, or when
  * AQE is unavailable (streaming joins).
  */
object Skew {

  /** Deterministic per-row salt in [0, factor). `saltFrom` picks the hash
    * input: default is every column of `df` (works for narrow rows of
    * hashable types); pass a narrow high-cardinality column (row id,
    * natural key) when rows are wide — full-row hashing pays for bytes the
    * spread doesn't need — or when any column is Map-typed (hashing a
    * MapType is disallowed at analysis time by default). Any choice is
    * fine for correctness; the spread only needs to be roughly uniform.
    * (`monotonically_increasing_id` would NOT be — it breaks determinism
    * across reruns.) */
  private def salt(df: DataFrame, factor: Int,
                   saltFrom: Seq[Column]): Column = {
    val src = if (saltFrom.nonEmpty) saltFrom
              else df.columns.map(col).toIndexedSeq
    pmod(xxhash64(src: _*), lit(factor.toLong))
  }

  /** Equi-join `big ⋈ small` on `key`, salted `factor` ways: the big side
    * gets a deterministic per-row salt, the small side is replicated once
    * per salt value, and the join key becomes (key, salt) — a hot key's
    * rows spread over `factor` shuffle partitions instead of one.
    * Result equals `big.join(small, Seq(key), "inner")` exactly; cost is
    * `factor`× the small side (keep it the dimension/smaller input).
    * `saltFrom`: see [[salt]].
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 factor: Int, saltFrom: Seq[Column] = Nil): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    require(!big.columns.contains("_salt") && !small.columns.contains("_salt"),
      "inputs must not already have a _salt column (it would be clobbered)")
    val salted = big.withColumn("_salt", salt(big, factor, saltFrom))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(factor.toLong - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase salted sum+count by `key`: phase 1 aggregates by
    * (key, salt) so a hot key's rows spread over `factor` reducers; phase
    * 2 merges the ≤`factor` partials per key. Exact for any mergeable
    * aggregate — here sum+count, from which avg also falls out; pass a
    * DECIMAL-cast `value` when the sum must be reassociation-stable.
    * min/max salt identically; count-distinct instead needs the two-level
    * expand (distinct first, then count). Result ≡
    * `df.groupBy(key).agg(sum(value), count(*))` — contract-pinned by
    * `q_agg_salted`'s oracle, which runs the direct form.
    * `saltFrom`: see [[salt]].
    */
  def saltedSumCount(df: DataFrame, key: String, value: Column,
                     factor: Int, saltFrom: Seq[Column] = Nil): DataFrame = {
    require(factor >= 1, s"salt factor must be >= 1, got $factor")
    df.withColumn("_salt", salt(df, factor, saltFrom))
      .groupBy(col(key), col("_salt"))
      .agg(sum(value).as("_psum"), count(lit(1)).as("_pn"))
      .groupBy(col(key))
      .agg(sum(col("_psum")).as("sum"), sum(col("_pn")).as("n"))
  }

  /** Fact⋈fact interval join at scale (SCALE.md "interval joins"): pairs
    * each `points` row whose `pointCol` value falls in a `intervals` row's
    * `[loCol, hiCol)` — WITHOUT the broadcast the dim-side band join
    * (q_join_range) relies on, and without a nested-loop join.
    *
    * The minhash-band pattern applied to ranges: both sides are assigned
    * coarse buckets of width `bucketWidth` — a point to the single bucket
    * containing it, an interval to every bucket it overlaps — turning the
    * range predicate into a bucket EQUI-join both engines can hash/SMJ-
    * shuffle; the exact `>= lo AND < hi` then filters bucket-mates. No
    * pair is produced twice (a point lives in exactly one bucket), so no
    * dedup pass is needed.
    *
    * Cost knob: an interval is replicated `⌈len/bucketWidth⌉ + 1` ways —
    * pick `bucketWidth` near the typical interval length so replication
    * stays O(1) while buckets stay selective. Intervals must satisfy
    * `lo <= hi`. Result ≡ the theta join
    * `points.join(intervals, point >= lo && point < hi)` — pinned by
    * SkewAndBucketSpec.
    */
  def rangeBucketJoin(points: DataFrame, pointCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    require(!points.columns.contains("_bucket") &&
            !intervals.columns.contains("_bucket"),
      "inputs must not already have a _bucket column (it would be clobbered)")
    val p = points.withColumn("_bucket",
      floor(points(pointCol) / bucketWidth).cast("long"))
    val i = intervals.withColumn("_bucket", explode(sequence(
      floor(intervals(loCol) / bucketWidth).cast("long"),
      floor(intervals(hiCol) / bucketWidth).cast("long"))))
    p.join(i, p("_bucket") === i("_bucket") &&
           p(pointCol) >= i(loCol) && p(pointCol) < i(hiCol))
      .drop("_bucket")
  }

  /** Ordered candidate pairs (`d1` < `d2`) of `idCol` values sharing a
    * bucket — the LSH band self-join every near-dup pipeline runs
    * (minhash, simhash), with the hot-bucket salting knob the SCALE.md
    * sizing notes promise. A bucket with B members yields B² comparisons
    * in ONE reducer when unsalted; with `saltFactor` = F the left side is
    * split F ways by a deterministic id hash and the right side is
    * replicated to every salt, so the same bucket runs as F tasks of
    * ~B²/F comparisons (the [[saltedJoin]] trade: F× replication of one
    * side buys F× parallelism on the hot key). Each unordered pair is
    * still produced exactly once per shared bucket BEFORE the final
    * distinct: the pair (a, b), a < b, matches only where x = a — at
    * x's own salt — because the `<` guard kills the mirrored x = b row.
    * Result ≡ the unsalted self-join for ANY factor (SkewAndBucketSpec
    * pins salted ≡ unsalted on the minhash and simhash fixtures).
    * `carry` columns ride along as `<c>1`/`<c>2` and the output is
    * deduped on (d1, d2) ALONE — one row per pair is a hard guarantee,
    * not a convention: a carry column that is not functionally determined
    * by the id yields an arbitrary-but-single representative instead of
    * silently inflating pair multiplicity for downstream consumers
    * (ADVICE r8). Every in-repo carry (shingle-set size `n`, simhash
    * signature `sim`) IS id-determined, so the representative is exact.
    */
  def selfPairs(buckets: DataFrame, keyCols: Seq[String], idCol: String,
                carry: Seq[String] = Nil, saltFactor: Int = 1): DataFrame = {
    require(saltFactor >= 1, s"salt factor must be >= 1, got $saltFactor")
    require(!buckets.columns.contains("_salt"),
      "input must not already have a _salt column (it would be clobbered)")
    // factor 1 = the plain self-join, with NO salt columns: the default
    // path pays zero plan overhead (no xxhash64 projection, no 1-element
    // explode) — the knob only reshapes the plan when actually turned.
    val (x, y, joinKeys) =
      if (saltFactor == 1) (buckets.alias("x"), buckets.alias("y"), keyCols)
      else (
        buckets.withColumn("_salt",
          pmod(xxhash64(col(idCol)), lit(saltFactor.toLong))).alias("x"),
        buckets.withColumn("_salt",
          explode(sequence(lit(0L), lit(saltFactor - 1L)))).alias("y"),
        keyCols :+ "_salt")
    val cond = joinKeys
      .map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
      col(s"x.$idCol") < col(s"y.$idCol")
    val joined = x.join(y, cond)
      .select(col(s"x.$idCol").as("d1") +: col(s"y.$idCol").as("d2") +:
        carry.flatMap(c =>
          Seq(col(s"x.$c").as(s"${c}1"), col(s"y.$c").as(s"${c}2"))): _*)
    // Dedup keyed on the PAIR, never on (pair, carry): with carry in the
    // distinct key a non-id-determined carry would multiply pairs. Same
    // single hash-agg shuffle as distinct(); first() is exact whenever the
    // carry is id-determined (all in-repo callers) and an arbitrary single
    // representative otherwise.
    if (carry.isEmpty) joined.distinct()
    else joined.groupBy(col("d1"), col("d2"))
      .agg(first(carry.head + "1").as(carry.head + "1"),
        carry.flatMap(c => Seq(s"${c}1", s"${c}2")).tail
          .map(c => first(col(c)).as(c)): _*)
  }
}
