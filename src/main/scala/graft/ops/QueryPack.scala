package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One pack per SURVEY.md §2.B category. `queries` are the engine
  * implementations; `oracles` the equivalent DuckDB SQL (omit a key for
  * no-oracle ops — the driver then records a weaker rows-only check).
  *
  * Determinism rules (SURVEY.md §5.2): every oracle-matched query ends in a
  * total-order ORDER BY; double aggregates are computed over exact
  * DECIMAL(18,2) casts (fixture money columns are all 2-decimal) and only
  * converted back to double after a `round(_, 4)`, so Spark's and DuckDB's
  * addition order cannot diverge the hash.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]

  /** Exact decimal view of a 2-decimal double column (hash-stable sums). */
  protected def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal view of an arbitrary-precision double column: both
    * engines round identically to 10 decimals, then sum exactly — the sum
    * order can no longer diverge the hash. */
  protected def dec10(c: Column): Column = c.cast(DecimalType(28, 10))

  /** Final float output: exact decimal → rounded double, both engines agree. */
  protected def outd(c: Column): Column = round(c.cast("double"), 4)

  /** Exact sum aggregate of a scaled long `x` (the value times 10^`scale`,
    * e.g. cents for `scale` = 2), as an exact decimal.
    *
    * A decimal sum multiplies through Java BigDecimal per row and its
    * byte-backed buffer allocates on every update. Here `x` splits into `k`
    * base-2^20 chunks: the lower k−1 are masked to [0, 2^20), the top one
    * is the unmasked arithmetic shift `x >> 20(k−1)`, so Σ chunk_i·2^(20i)
    * equals `x` for every long, negatives included. Each chunk is summed
    * as a plain long (codegen'd, a mutable buffer word, no allocation) and
    * the exact total is reassembled in DECIMAL(38,0) at group grain, then
    * shifted by 10^`scale`. Pick `k` so the top chunk of the largest
    * per-row `x` leaves room for the group's row count.
    *
    * Precondition: ANSI mode (the session default). A long `*` or `sum`
    * that overflows then raises ARITHMETIC_OVERFLOW; a too-small `k`
    * fails loudly, never wraps. */
  protected[graft] def exactSum(x: Column, k: Int, scale: Int): Column = {
    require(k >= 1 && scale >= 0 && scale <= 9, s"k=$k scale=$scale")
    val base = 1L << 20
    val sums = (0 until k).map { i =>
      val shifted = if (i == 0) x else shiftright(x, 20 * i)
      val chunk = if (i == k - 1) shifted else shifted.bitwiseAND(lit(base - 1))
      sum(chunk).cast(DecimalType(38, 0))
    }
    sums.reduceRight((s, above) => above * base + s) / math.pow(10, scale).toInt
  }

  /** Exact global rank of `value` within `group`, in two phases that never
    * put a whole group into one sort task: rank inside fixed-width value
    * bands partitioned by (group, band), then add each band's prefix
    * offset. Returns the ranked frame (`df`'s columns plus `band`, `rnb`,
    * `off` and the 1-based global `rn`) and the per-group sizes
    * (`group`, `n`).
    *
    * Equal values always share a band (floor is monotone), so the value
    * AT any rank is that of one sort by `value`; ties break arbitrarily,
    * as in any `row_number`. The in-band ranked frame keeps a lazy
    * checkpoint (the band counts and the offset join both read it), and
    * so does the |groups × bands| band-count frame (read by the offsets
    * and the sizes). Offsets come from a window over that frame, never
    * over facts.
    *
    * Domain assumption: TPC-H l_extendedprice = l_quantity (1-50) ×
    * p_retailprice (900.00-2098.99), about 900-105 000, so 4096-wide
    * bands give ~26 per flag. Ranks stay exact for any domain; only the
    * parallelism rests on it — a domain far narrower than the width
    * falls back to one serial sort per group. */
  protected[graft] def bandedRank(df: DataFrame, group: String,
                                  value: String): (DataFrame, DataFrame) = {
    val bandW = 4096.0
    val wRank = Window.partitionBy(col(group), col("band"))
      .orderBy(col(value))
    val rk = df.withColumn("band", floor(col(value) / bandW).cast("long"))
      .withColumn("rnb", row_number().over(wRank))
      .localCheckpoint(eager = false)
    // band sizes = max in-band rank
    val bandCnts = rk.groupBy(col(group), col("band"))
      .agg(max(col("rnb")).cast("long").as("cntb"))
      .localCheckpoint(eager = false)
    val offDf = bandCnts.withColumn("off",
      coalesce(sum(col("cntb")).over(Window.partitionBy(col(group))
        .orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(group), col("band"), col("off"))
    val ranked = rk.join(broadcast(offDf), Seq(group, "band"))
      .withColumn("rn", col("off") + col("rnb").cast("long"))
    val sizes = bandCnts.groupBy(col(group)).agg(sum(col("cntb")).as("n"))
    (ranked, sizes)
  }
}

/** The two ways to pick rows per group. Every per-group pick in the packs,
  * the ANN index and the training pipeline goes through one of them; the
  * filters that keep every row but the first (q_dedup_passage, the
  * training pipeline's cluster finisher) number rows themselves. A pick
  * of whole wide rows (text) is a one-row `topK`, since an argmax struct
  * would carry every column. */
object QueryPack {

  /** Each `group`'s first `k` rows in `order`, numbered 1..k in column
    * `rn`. This is the `row_number` + `rn <= k` filter that Spark plans as
    * a `WindowGroupLimit`: each partition forwards at most k rows per
    * group to the window shuffle. Rows tied on every `order` key number
    * arbitrarily, so end `order` in a unique key. */
  def topK(df: DataFrame, group: Seq[String], order: Seq[Column], k: Int,
           rn: String = "rn"): DataFrame =
    df.withColumn(rn, row_number().over(
        Window.partitionBy(group.map(col): _*).orderBy(order: _*)))
      .filter(col(rn) <= k)

  /** One row per `group`: the row `row_number() over (partitionBy(group)
    * orderBy(order)) == 1` keeps, as its `group`, `keep` and `also`
    * columns. `also` are further aggregates over the whole group, computed
    * in the same pass.
    *
    * The pick is one mergeable `min(struct)` or `max(struct)` aggregate,
    * so partial aggregation collapses each partition to one row per group
    * before the shuffle, and no window sort runs. Each `order` key becomes
    * struct fields whose order under the aggregate is the key's sort
    * order:
    *  - a key sorted the aggregate's way (`asc` under `min`, `desc` under
    *    `max`) is its own field; one sorted the other way is reversed:
    *    `~x` for integers (no overflow), `-x` for decimals, and for floats
    *    a NaN flag (NaN sorts above every number) ahead of `-x`. Other
    *    types cannot be reversed;
    *  - a nullable key leads with a null flag, unless it is its own field
    *    and its nulls fall where struct order puts them: first under
    *    `min`, last under `max` (the default of `asc` and `desc`).
    * Of the two aggregates the one with fewer flags is used, ties going
    * to the leading key's direction; so a leading `desc` key of any
    * orderable type works as long as the later keys can be reversed. A
    * `keep` column that is a sort key is read back from its value field.
    * The tie-break rule is therefore `order` itself; rows tied on every
    * `order` key resolve to the smallest (`min`) or largest (`max`) tuple
    * of the other `keep` columns, one of the rows the window could keep.
    * End `order` in a unique key to make the pick independent of that. */
  def argmaxBy(df: DataFrame, group: Seq[String], order: Seq[Column],
               keep: Seq[String], also: Column*): DataFrame = {
    val sortKeys = order.map(GraftShim.sortKey)
    val lead = sortKeys.head._2
    val types = df.select(sortKeys.map(_._1): _*).schema
    // fewest flags first; the stable sort keeps the leading key's on ties
    val (hi, keys) = Seq(!lead, lead)
      .flatMap(hi => structKeys(sortKeys.zip(types), hi).map(hi -> _))
      .sortBy(_._2.map(_.flags.size).sum).headOption
      .getOrElse(throw new IllegalArgumentException(
        s"argmaxBy: no struct order for ${order.mkString(", ")}"))
    // each key's flags and value, then the `keep` columns no key gives back
    val keyFields = keys.flatMap(k => k.flags :+ k.value)
    val rest = keep.filterNot(k => keys.exists(_.name == k))
    val fields = keyFields ++ rest.map(col)
    val top = struct(fields.zipWithIndex.map { case (c, i) => c.as(s"f$i") }: _*)
    val out = df.groupBy(group.map(col): _*)
      .agg((if (hi) max(top) else min(top)).as("top"), also: _*)
    def field(i: Int) = col(s"top.f$i")
    val kept = keep.map(k => keys.find(_.name == k) match {
      case Some(key) => key.back(field(keyFields.indexWhere(_ eq key.value))).as(k)
      case None => field(keyFields.size + rest.indexOf(k)).as(k)
    })
    out.select(group.map(col) ++ kept ++
      out.columns.drop(group.size + 1).map(col): _*)
  }

  /** One [[argmaxBy]] sort key as struct fields: its `flags`, then its
    * `value`, from which `back` gives the column `name` back. */
  private case class StructKey(name: String, flags: Seq[Column], value: Column,
                               back: Column => Column)

  /** [[argmaxBy]]'s sort keys ((key, ascending, nulls first), field) as
    * struct fields for `max(struct)` if `hi`, else `min(struct)`; None if
    * a key would need a reversal its type has none of. */
  private def structKeys(keys: Seq[((Column, Boolean, Boolean), StructField)],
                         hi: Boolean): Option[Seq[StructKey]] = {
    val fields = keys.map { case ((c, asc, nullsFirst), f) =>
      val own = asc != hi
      val nullFlag =
        if (!f.nullable || (own && nullsFirst != hi)) Nil
        else Seq(if (nullsFirst != hi) c.isNotNull else c.isNull)
      if (own) Some(StructKey(c.toString, nullFlag, c, identity))
      else (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(StructKey(c.toString, nullFlag, bitwiseNOT(c), bitwiseNOT))
        case FloatType | DoubleType =>
          Some(StructKey(c.toString, nullFlag :+ !isnan(c), -c, -_))
        case _: DecimalType => Some(StructKey(c.toString, nullFlag, -c, -_))
        case _ => None
      })
    }
    if (fields.forall(_.isDefined)) Some(fields.flatten) else None
  }
}
