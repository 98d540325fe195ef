package graft

import graft.ops.QueryPack
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `QueryPack.topK` and `QueryPack.argmaxBy` against the inline
  * `row_number() over (partitionBy(g) orderBy(order))` form on a generated
  * frame: ties on the first key, mixed `asc`/`desc` keys, a string `asc`
  * key (the q_lang_id vote), string and date `desc` keys, null and NaN
  * keys in both directions, long extremes, one-row groups, and `k` larger
  * than any group. Every order
  * ends in a unique key, so the window's pick is deterministic. */
class RowPickSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("a", IntegerType, nullable = false),
    StructField("l", LongType),
    StructField("x", DoubleType),
    StructField("s", StringType),
    StructField("id", LongType, nullable = false),
    StructField("d", DateType)))

  /** 40 groups of 1-20 rows drawn from small domains (so every key ties),
    * plus five one-row groups; spread over 4 partitions so the argmax's
    * partial aggregates really merge. */
  private lazy val frame: DataFrame = {
    val rnd = new scala.util.Random(20261019)
    val xs: Seq[Any] = Seq(null, Double.NaN, Double.NegativeInfinity,
      Double.PositiveInfinity, -0.0, 0.0, 1.5, -2.5, 3.0)
    val ls: Seq[Any] = Seq(null, Long.MinValue, Long.MaxValue, -1L, 0L, 7L)
    val ss = Seq(null, "de", "en", "fr")
    val ds = Seq(null, java.sql.Date.valueOf("1970-01-01"),
      java.sql.Date.valueOf("2024-02-29"), java.sql.Date.valueOf("2026-10-19"))
    var id = 0L
    val rows = ((0 until 40).flatMap(g => Seq.fill(1 + rnd.nextInt(20))(g)) ++
        (100 until 105)).map { g =>
      id += 1
      Row(g, rnd.nextInt(3), ls(rnd.nextInt(ls.size)),
        xs(rnd.nextInt(xs.size)), ss(rnd.nextInt(ss.size)), id * 7919 % 10007,
        ds(rnd.nextInt(ds.size)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private val keep = Seq("x", "s", "l", "id")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def windowPick(order: Seq[Column]): DataFrame =
    frame.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(order: _*)))
      .filter(col("rn") === 1)
      .select((col("g") +: keep.map(col)): _*)

  private val orders: Seq[(String, Seq[Column])] = Seq(
    "ties on the first key" -> Seq(col("a").desc, col("id").desc),
    "mixed asc/desc" -> Seq(col("a"), col("l").desc, col("x").desc, col("id")),
    "mixed desc/asc" -> Seq(col("a").desc, col("x"), col("l"), col("id").desc),
    "string asc key" -> Seq(col("a").desc, col("s"), col("id")),
    "double asc, nulls first" -> Seq(col("x"), col("id")),
    "double asc, nulls last" -> Seq(col("x").asc_nulls_last, col("id")),
    "double desc, nulls last" -> Seq(col("x").desc, col("id").desc),
    "double desc, nulls first" -> Seq(col("x").desc_nulls_first, col("id")),
    "long desc, nulls last" -> Seq(col("l").desc, col("id")),
    "long desc, nulls first" -> Seq(col("l").desc_nulls_first, col("id")),
    "string asc, nulls last" -> Seq(col("s").asc_nulls_last, col("id").desc),
    "string desc key" -> Seq(col("s").desc, col("a"), col("l").desc, col("id")),
    "date desc, nulls first" -> Seq(col("d").desc_nulls_first, col("x"), col("id")),
    "date desc key" -> Seq(col("d").desc, col("x").desc, col("id")))

  for ((name, order) <- orders) test(s"argmaxBy == row_number pick: $name") {
    val got = QueryPack.argmaxBy(frame, Seq("g"), order, keep)
    assert(got.columns.toSeq == "g" +: keep)
    assert(rows(got) == rows(windowPick(order)))
  }

  test("argmaxBy covers one-row groups and computes `also` over the group") {
    val order = Seq(col("x").desc, col("a"), col("id"))
    val got = QueryPack.argmaxBy(frame, Seq("g"), order, Seq("id"),
      count(lit(1)).as("n"), sum(col("a")).as("sa"))
    assert(got.columns.toSeq == Seq("g", "id", "n", "sa"))
    val want = windowPick(order).select(col("g"), col("id"))
      .join(frame.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("a")).as("sa")), Seq("g"))
    assert(rows(got) == rows(want))
    assert(got.filter(col("g") >= 100 && col("n") === 1).count() == 5)
  }

  test("argmaxBy plans no window") {
    val got = QueryPack.argmaxBy(frame, Seq("g"),
      Seq(col("a").desc, col("id")), keep)
    got.collect()
    assert(!got.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("argmaxBy uses the aggregate with the fewer struct fields") {
    // x desc (nulls last) is max's own order: no null or NaN flag
    def plan(order: Column*) = QueryPack.argmaxBy(frame, Seq("g"), order,
      Seq("id")).queryExecution.analyzed.toString
    val ivf = plan(col("x").desc, col("id"))
    assert(ivf.contains("max(struct(") && !ivf.contains("isnan"), ivf)
    // ~a, x, id under min against a, x's null and NaN flags, -x, ~id
    // under max
    val mode = plan(col("a").desc, col("x"), col("id"))
    assert(mode.contains("min(struct(") && !mode.contains("isnan"), mode)
  }

  test("argmaxBy refuses an order that neither aggregate can reverse") {
    val e = intercept[IllegalArgumentException](QueryPack.argmaxBy(frame,
      Seq("g"), Seq(col("s").desc, lower(col("s")), col("id")), keep))
    assert(e.getMessage.contains("no struct order"))
  }

  for (k <- Seq(1, 3, 25)) test(s"topK == row_number <= $k") {
    val order = Seq(col("a").desc, col("x"), col("id").desc)
    val got = QueryPack.topK(frame, Seq("g"), order, k, "rk")
    val want = frame.withColumn("rk", row_number().over(
        Window.partitionBy(col("g")).orderBy(order: _*)))
      .filter(col("rk") <= k)
    assert(got.columns.toSeq == frame.columns.toSeq :+ "rk")
    assert(rows(got) == rows(want))
    val sizes = frame.groupBy(col("g")).count().collect()
      .map(r => r.getInt(0) -> math.min(r.getLong(1), k.toLong)).toMap
    got.groupBy(col("g")).count().collect()
      .foreach(r => assert(r.getLong(1) == sizes(r.getInt(0))))
    if (k == 25) assert(sizes.values.forall(_ < k), "k must exceed every group")
  }
}
