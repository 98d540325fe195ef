package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `QueryPack.exactSum` against a `BigInt` sum on generated longs: random
  * values of both signs and 2^40 and above, plus `Long.MaxValue` and
  * `Long.MinValue` as single-row groups, for every chunk count the keys
  * use. The overflow case pins the helper's ANSI premise: a chunk sum that
  * leaves the long range must fail, never wrap. */
class ExactSumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val pack = graft.ops.Aggregates

  /** Group 0: `n` hashed longs (shifted right by `shift` to bound the top
    * chunk's sum); group 1: values of 2^40 and above, which the old masked
    * top chunk dropped at k = 2; groups 2 and 3: the long extremes, one
    * row each. */
  private def frame(shift: Int, n: Long = 5000): DataFrame = {
    def one(g: Long, x: Long) =
      spark.range(1).select(lit(g).as("g"), lit(x).as("x"))
    val rnd = spark.range(0, n, 1, 4).select(lit(0L).as("g"),
      shiftright(xxhash64(col("id"), lit(7)), shift).as("x"))
    (rnd +: Seq(1L -> ((1L << 40) + 5), 1L -> ((1L << 41) + 7),
        1L -> (3L * (1L << 40) - 1), 2L -> Long.MaxValue,
        3L -> Long.MinValue).map { case (g, x) => one(g, x) })
      .reduce(_ unionByName _)
  }

  for ((k, shift) <- Seq(1 -> 14, 2 -> 0, 3 -> 0); scale <- Seq(0, 2)) {
    test(s"exactSum k=$k scale=$scale == BigInt sum") {
      val df = frame(shift)
      val expected = df.collect().groupBy(_.getLong(0)).map { case (g, rs) =>
        g -> BigDecimal(rs.map(r => BigInt(r.getLong(1))).sum, scale)
      }
      assert(expected(0L).abs > BigDecimal(BigInt(1) << 40, scale),
        "the random group must reach past 2^40")
      val got = df.groupBy(col("g"))
        .agg(pack.exactSum(col("x"), k, scale).as("s")).collect()
        .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
      assert(got.keySet == expected.keySet)
      val wrong = expected.filter { case (g, e) => got(g).compare(e) != 0 }
      assert(wrong.isEmpty, wrong.map { case (g, e) =>
        s"group $g: ${got(g)} != $e" }.mkString("; "))
    }
  }

  test("exactSum: a chunk sum that overflows raises ARITHMETIC_OVERFLOW") {
    val df = spark.range(0, 2, 1, 2).select(lit(Long.MaxValue).as("x"))
    val e = intercept[Exception] {
      df.agg(pack.exactSum(col("x"), 1, 0)).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("ARITHMETIC_OVERFLOW")), e)
  }
}
