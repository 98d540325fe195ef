package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Backs SCALE.md's join claims with executable proof: salting preserves
  * join semantics while spreading hot keys, and bucketed table layouts
  * remove the join shuffle entirely.
  */
class SkewAndBucketSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("saltedJoin equals the plain join exactly") {
    val orders = Tables.orders(s, TestSpark.Sf0001)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.customer(s, TestSpark.Sf0001)
      .select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, Seq("o_custkey"))
    val salted = Skew.saltedJoin(orders, cust, "o_custkey", factor = 4)
    val cols = plain.columns.map(col).toIndexedSeq
    assert(salted.count() == plain.count())
    assert(salted.select(cols: _*).exceptAll(plain.select(cols: _*)).count() == 0)
    assert(plain.select(cols: _*).exceptAll(salted.select(cols: _*)).count() == 0)
  }

  test("saltedSumCount equals the direct groupBy exactly") {
    val li = Tables.lineitem(s, TestSpark.Sf0001)
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum"),
           count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(
      li, "l_returnflag", col("l_quantity").cast("decimal(18,2)"), factor = 8)
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }

  test("salted forms stay exact on a 50%-hot key distribution (the case salting exists for)") {
    // r10 verdict item 5: the fixture keys are roughly uniform, so the
    // equality pins above never exercise a genuinely hot key. This is the
    // pathology itself — HALF the fact rows carry one key — on generated
    // data; SkewScaleProbe measures the wall-time payoff of the same
    // distribution at sf0.1 size (recorded in SCALE.md "skew, measured").
    val big = HotKeyData.facts(s, 200000L)
    val small = HotKeyData.dim(s)
    val plainJ = big.join(small, Seq("key"))
    val saltedJ = Skew.saltedJoin(big, small, "key", factor = 8,
      saltFrom = Seq(col("v")))
    assert(saltedJ.count() == plainJ.count())
    val cols = plainJ.columns.map(col).toIndexedSeq
    assert(saltedJ.select(cols: _*).exceptAll(plainJ).count() == 0)
    assert(plainJ.exceptAll(saltedJ.select(cols: _*)).count() == 0)
    val direct = big.groupBy(col("key"))
      .agg(sum(col("v").cast("decimal(28,0)")).as("sum"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(big, "key",
      col("v").cast("decimal(28,0)"), factor = 8, saltFrom = Seq(col("v")))
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }

  test("minhashPairs is salt-invariant (hot-band knob changes the plan, not the pairs)") {
    val docs = Tables.documents(s, TestSpark.Sf0001)
    val plain = graft.ops.TextOps.minhashPairs(docs, 0.5)
    val salted = graft.ops.TextOps.minhashPairs(docs, 0.5, bandSaltFactor = 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("simhashPairs is salt-invariant (hot-band knob changes the plan, not the pairs)") {
    val docs = Tables.documents(s, TestSpark.Sf0001)
    val plain = graft.ops.PipelineOps.simhashPairs(docs)
    val salted = graft.ops.PipelineOps.simhashPairs(docs, bandSaltFactor = 4)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("selfPairs at factor 1 equals the explicit self-join (base contract)") {
    import s.implicits._
    // A deliberately hot bucket: 12 of 16 ids share bucket 'hot'.
    val b = (1 to 12).map(i => (i.toLong, "hot")) ++
      Seq((13L, "a"), (14L, "a"), (15L, "b"), (16L, "c"))
    val buckets = b.toDF("doc_id", "bk")
    val expect = buckets.as("x").join(buckets.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
    for (f <- Seq(1, 3, 8)) {
      val got = Skew.selfPairs(buckets, Seq("bk"), "doc_id", saltFactor = f)
      assert(got.exceptAll(expect).count() == 0 &&
             expect.exceptAll(got).count() == 0,
        s"selfPairs factor=$f diverged from the plain self-join")
    }
  }

  test("rangeBucketJoin equals the theta interval join and stays an equi-join") {
    import s.implicits._
    val parts = Tables.part(s, TestSpark.Sf0001)
      .select("p_partkey", "p_retailprice")
    // overlapping, disjoint, whole-range, empty, and boundary intervals —
    // incl. one lo landing mid-bucket and one on a bucket edge (928 = 29*32)
    val intervals = Seq(
      ("a", 900.0, 928.0), ("b", 910.0, 955.5), ("c", 955.5, 1000.0),
      ("d", 0.0, 2000.0), ("e", 990.0, 990.0)).toDF("iv", "lo", "hi")
    val theta = parts.join(intervals,
      col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
    val bucketed = Skew.rangeBucketJoin(
      parts, "p_retailprice", intervals, "lo", "hi", bucketWidth = 32.0)
    val cols = theta.columns.map(col).toIndexedSeq
    assert(bucketed.count() == theta.count())
    assert(bucketed.select(cols: _*).exceptAll(theta).count() == 0)
    assert(theta.exceptAll(bucketed.select(cols: _*)).count() == 0)
    // the scale claim: with broadcast off (the fact⋈fact regime), the
    // bucket join is still an EQUI join — never a nested loop / cartesian
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val b2 = Skew.rangeBucketJoin(
        parts, "p_retailprice", intervals, "lo", "hi", bucketWidth = 32.0)
      b2.collect()
      val plan = b2.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"rangeBucketJoin lost its bucket equi-key:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("joining two tables bucketed on the key plans no shuffle") {
    // warehouse dir is a static conf — uses the session default
    // (spark-warehouse/, gitignored); drop catalog entries AND any
    // leftover location from an interrupted prior run
    def scrub(name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      val loc = new java.io.File(s"spark-warehouse/$name")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    scrub("b_orders"); scrub("b_lineitem")
    Tables.orders(s, TestSpark.Sf0001)
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(s, TestSpark.Sf0001)
      .select(col("l_orderkey"), col("l_quantity"))
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // at fixture size the planner would broadcast (which bypasses and
    // disables bucketing) — force the fact⋈fact shape the claim is about
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s.table("b_orders").join(s.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the whole point of bucketing: a fact-to-fact equi-join with no
      // shuffle on either side (SCALE.md "bucketed layouts are directly
      // usable")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS b_orders")
      s.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
