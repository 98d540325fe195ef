package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Definition-level cross-checks for the r13 statistics keys on GENERATED
  * data (not the driver fixtures): each case synthesizes a mini fixture
  * dir, runs the contract key against it, and compares with a brute-force
  * statement of the DEFINITION — U by pair counting, interval coverage by
  * day-set union, winsorize bounds by direct order statistics. The DuckDB
  * oracle pins cross-engine equality on one dataset; these pin the
  * algorithm itself across datasets (ties, skew, singleton groups).
  */
class MiningDefinitionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(s"graft-def-$name").toString
    d
  }

  /** Write an events.parquet with the fixture schema (ts as timestamp —
    * Tables.events' NTZ/LTZ branches both normalize it). */
  private def writeEvents(dir: String,
                          rows: Seq[(Long, String, Double)]): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val data = rows.map { case (id, et, v) =>
      Row(id, new java.sql.Timestamp(base.getTime + id * 60000L),
        id % 50, et, v, """{"k": 1}""")
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(data, 4), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q_mann_whitney == brute-force pair counting, across tie regimes") {
    // value pools of shrinking size force ever-heavier ties; pool=1 is
    // the degenerate regime (sigma=0 → z/effect_r null, ADVICE r13)
    for ((seed, pool) <- Seq((1, 1000), (2, 12), (3, 3), (4, 1))) {
      val rnd = new scala.util.Random(seed)
      val rows = (0L until 600L).map(i =>
        (i, "x", (rnd.nextInt(pool) + 1).toDouble))
      val dir = tmpDir(s"mw$seed")
      writeEvents(dir, rows)
      val g1 = rows.filter(_._1 % 2 == 0).map(_._3)
      val g2 = rows.filter(_._1 % 2 != 0).map(_._3)
      // THE DEFINITION: U1 = #(pairs with v1 > v2) + half the ties
      val u1 = g1.map(a =>
        g2.count(a > _) + 0.5 * g2.count(a == _)).sum
      val r = SparkEntry.queries("q_mann_whitney")(spark, dir).collect().head
      assert(r.getAs[Long]("n1") == g1.size && r.getAs[Long]("n2") == g2.size)
      assert(math.abs(r.getAs[Double]("u1") - u1) < 0.51,
        s"pool=$pool: u1 ${r.getAs[Double]("u1")} != pair-count $u1")
      if (pool == 1) { // all values tied: sigma=0, z undefined by contract
        assert(r.isNullAt(r.fieldIndex("z")) &&
          r.isNullAt(r.fieldIndex("effect_r")),
          s"pool=1 must null z/effect_r, got ${r.get(3)}/${r.get(4)}")
      } else {
        assert(!r.isNullAt(r.fieldIndex("z")) &&
          !r.getAs[Double]("z").isNaN && !r.getAs[Double]("z").isInfinite)
      }
    }
  }

  test("q_impute == sequential median imputation, across missing rates") {
    for (seed <- Seq(7, 8)) {
      val rnd = new scala.util.Random(seed)
      val types = Seq("a", "b", "c")
      val rows = (0L until 800L).map(i =>
        (i, types(rnd.nextInt(types.size)), rnd.nextInt(1000) / 10.0))
      val dir = tmpDir(s"imp$seed")
      writeEvents(dir, rows)
      val got = SparkEntry.queries("q_impute")(spark, dir).collect()
        .map(r => r.getAs[String]("event_type") -> r).toMap
      rows.groupBy(_._2).foreach { case (et, rs) =>
        val present = rs.collect { case (id, _, v) if id % 97 != 0 => v }
        val k = math.ceil(present.size * 0.5).toInt
        val med = present.sorted.apply(k - 1)
        val nMiss = rs.count(_._1 % 97 == 0)
        val after = (present.sum + nMiss * med) / rs.size
        val r = got(et)
        assert(r.getAs[Long]("n_missing") == nMiss)
        assert(math.abs(r.getAs[Double]("median_used") - med) < 5e-5)
        assert(math.abs(r.getAs[Double]("mean_after") - after) < 1e-3,
          s"$et mean_after ${r.getAs[Double]("mean_after")} != $after")
      }
    }
  }

  test("q_impute all-missing group: null medians by contract, exact counts") {
    // Group "z" holds ONLY event_ids that are multiples of 97, so the
    // missingness mask nulls every value — the documented n_nn = 0
    // contract (ADVICE r13): no donor median, null stats, exact counts.
    val zIds = Seq(0L, 97L, 194L, 291L)
    val rows = zIds.map(i => (i, "z", 42.0)) ++
      (1L until 50L).map(i => (i, "a", i.toDouble))
    val dir = tmpDir("impAllMissing")
    writeEvents(dir, rows)
    val z = SparkEntry.queries("q_impute")(spark, dir).collect()
      .find(_.getAs[String]("event_type") == "z").get
    assert(z.getAs[Long]("n") == zIds.size &&
      z.getAs[Long]("n_missing") == zIds.size)
    assert(z.isNullAt(z.fieldIndex("median_used")) &&
      z.isNullAt(z.fieldIndex("mean_before")) &&
      z.isNullAt(z.fieldIndex("mean_after")),
      "all-missing group must null median_used/mean_before/mean_after")
  }

  test("q_interval_union == brute-force day-set union") {
    val rnd = new scala.util.Random(11)
    val segs = Seq("S1", "S2")
    val nCust = 40
    val custSchema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val ordSchema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val custRows = (0 until nCust).map(c =>
      Row(c.toLong, s"c$c", 0, 0.0, segs(c % segs.size)))
    // clustered order days force heavy overlap + occasional gaps
    val base = java.time.LocalDate.of(2024, 1, 1)
    val orders = (0 until 400).map { i =>
      val cust = rnd.nextInt(nCust).toLong
      val day = base.plusDays(rnd.nextInt(3) * 20 + rnd.nextInt(12))
      Row(i.toLong, cust, "O", 1.0,
        java.sql.Timestamp.valueOf(day.atStartOfDay()), "1-URGENT")
    }
    val dir = tmpDir("iu")
    spark.createDataFrame(spark.sparkContext.parallelize(custRows, 2),
      custSchema).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(orders, 4),
      ordSchema).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // THE DEFINITION: per customer, covered = |union of {d..d+6}|,
    // islands = maximal contiguous runs of that set
    val expected = orders.groupBy(_.getLong(1)).toSeq.map { case (cust, os) =>
      val days = os.flatMap { r =>
        val d0 = r.getTimestamp(4).toLocalDateTime.toLocalDate.toEpochDay
        (d0 until d0 + 7)
      }.toSet
      val islands = days.toSeq.sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc, d) => acc match {
          case (lo, hi) :: rest if d == hi + 1 => (lo, d) :: rest
          case _ => (d, d) :: acc
        }
      }
      (segs((cust % segs.size).toInt), os.size.toLong,
        islands.size.toLong, days.size.toLong)
    }
    val expBySeg = expected.groupBy(_._1).map { case (s2, xs) =>
      s2 -> ((xs.map(_._2).sum, xs.map(_._3).sum, xs.map(_._4).sum))
    }
    SparkEntry.queries("q_interval_union")(spark, dir).collect().foreach { r =>
      val (nIv, nIsl, cov) = expBySeg(r.getAs[String]("segment"))
      assert(r.getAs[Long]("n_intervals") == nIv)
      assert(r.getAs[Long]("n_islands") == nIsl,
        s"${r.getAs[String]("segment")} islands ${r.getAs[Long]("n_islands")} != $nIsl")
      assert(r.getAs[Long]("covered_days") == cov,
        s"${r.getAs[String]("segment")} covered ${r.getAs[Long]("covered_days")} != $cov")
    }
  }

  test("q_winsorize == direct order statistics on generated groups") {
    val rnd = new scala.util.Random(21)
    val liSchema = StructType(Seq(
      StructField("l_returnflag", StringType),
      StructField("l_extendedprice", DoubleType)))
    val flags = Seq("A", "B", "C")
    // group B is a singleton-ish tiny group — the ceil boundary case;
    // A and B each sit inside one 4096-wide rank band, while C spans ~29
    // bands with heavy ties, on and just below the band edges
    val edges = (1 to 29).flatMap(i => Seq(i * 4096.0, i * 4096.0 - 0.01))
    val rows = (0 until 500).map(_ =>
      Row("A", (rnd.nextInt(100000) + 1) / 100.0)) ++
      (0 until 7).map(_ => Row("B", (rnd.nextInt(1000) + 1) / 100.0)) ++
      (0 until 600).map(_ => Row("C", edges(rnd.nextInt(edges.size))))
    val dir = tmpDir("wz")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), liSchema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val byFlag = rows.groupBy(_.getString(0))
    val got = SparkEntry.queries("q_winsorize")(spark, dir).collect()
      .map(r => r.getAs[String]("rf") -> r).toMap
    flags.foreach { f =>
      val vs = byFlag(f).map(_.getDouble(1)).sorted
      val kLo = math.ceil(vs.size * 0.05).toInt
      val kHi = math.ceil(vs.size * 0.95).toInt
      val (lo, hi) = (vs(kLo - 1), vs(kHi - 1))
      val wins = vs.map(v => math.min(math.max(v, lo), hi)).sum / vs.size
      val trim = vs.slice(kLo, kHi).sum / (kHi - kLo)
      val r = got(f)
      assert(math.abs(r.getAs[Double]("lo") - lo) < 1e-9 &&
        math.abs(r.getAs[Double]("hi") - hi) < 1e-9, s"$f bounds")
      assert(math.abs(r.getAs[Double]("wins_mean") - wins) < 1e-3, s"$f wins")
      assert(math.abs(r.getAs[Double]("trim_mean") - trim) < 1e-3, s"$f trim")
    }
  }
}
