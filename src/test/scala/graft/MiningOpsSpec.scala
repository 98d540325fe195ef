package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the third round-13 pack (MiningOps) — the
  * DuckDB hash-match pins exact values; these pin the properties that
  * make the values MEAN something (partition totals, metric bounds,
  * order-statistic sandwiching), so a future refactor that stays
  * hash-consistent with a wrong oracle still fails here.
  */
class MiningOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def q(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf0001)

  test("q_kmeans: clusters partition the vector set, all dims reported") {
    val rows = q("q_kmeans").collect()
    val total = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet").count()
    val byCluster = rows.groupBy(_.getAs[Int]("cluster"))
    // every reported cluster carries every dim with one shared n
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_.getAs[Int]("pos")).sorted.toSeq == (0 until graft.ops.MiningOps.KmDims),
        s"cluster $c misses dims")
      assert(rs.map(_.getAs[Long]("n")).toSet.size == 1,
        s"cluster $c has inconsistent sizes")
    }
    // the per-dim slice of cluster sizes sums to the corpus — the
    // assignment is a partition (every vector in exactly one cluster)
    val sizes = rows.filter(_.getAs[Int]("pos") == 0).map(_.getAs[Long]("n"))
    assert(sizes.sum == total, s"cluster sizes ${sizes.toSeq} != $total")
    assert(sizes.forall(_ > 0))
  }

  test("q_kmeans: matches an independent sequential Lloyd's run") {
    // reference implementation: plain Scala over the collected vectors,
    // same rounding contract (round-6 decimal distance terms, round-6
    // re-estimated centroids, ties to the smallest cid)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val vecs = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .selectExpr("vec_id", s"slice(embedding, 1, ${graft.ops.MiningOps.KmDims}) AS v").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("v").map(_.toDouble).toArray).sortBy(_._1)
    def dist(v: Array[Double], c: Array[Double]): BigDecimal =
      v.zip(c).map { case (a, b) => r6((a - b) * (a - b)) }.sum
    def assign(cents: Seq[(Int, Array[Double])]) =
      vecs.map { case (id, v) =>
        id -> cents.map { case (cid, c) => (dist(v, c), cid) }.min._2
      }
    def reestimate(asg: Array[(Long, Int)]) = {
      val byC = vecs.toMap
      asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, members) =>
        val vs = members.map(m => byC(m._1))
        cid -> (0 until graft.ops.MiningOps.KmDims).map(p =>
          (vs.map(v => BigDecimal(v(p)).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
            .toDouble / vs.length) // exact-decimal sum, double divide
          ).map(x => r6(x).toDouble).toArray
      }
    }
    val c0 = vecs.filter(_._1 < 4).map { case (id, v) =>
      id.toInt -> v.map(x => r6(x).toDouble) }.toSeq
    val a1 = assign(c0)
    val c1 = reestimate(a1)
    val a2 = assign(c1)
    val expected = a2.groupBy(_._2).map { case (cid, m) => cid -> m.length }
    val got = q("q_kmeans").collect().filter(_.getAs[Int]("pos") == 0)
      .map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("n").toInt).toMap
    assert(got == expected, s"cluster sizes $got != reference $expected")
  }

  test("q_sssp: matches an independent Bellman-Ford over collected edges") {
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sup")).distinct()
      .collect().map(r => r.getAs[Long]("o") -> r.getAs[Long]("sup"))
    val coPairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      grp =>
        val sups = grp.map(_._2).toSeq
        for (a <- sups; b <- sups if a != b) yield (a, b)
    }
    val edges = coPairs.groupBy(identity).map { case ((a, b), hits) =>
      (a, b, if (hits.size >= 10) 1L else 11L - hits.size)
    }.toSeq
    var dist = Map(0L -> 0L)
    for (_ <- 1 to 3) {
      val relaxed = edges.flatMap { case (src, dst, w) =>
        dist.get(src).map(d0 => dst -> (d0 + w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    val got = q("q_sssp").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got == dist, s"sssp $got != reference $dist")
  }

  test("q_kmeans: iteration-2 centroids are inside the per-dim value range") {
    val rows = q("q_kmeans").collect()
    val ranges = spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("pos") < graft.ops.MiningOps.KmDims)
      .groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      .collect().map(r => r.getAs[Int]("pos") ->
        (r.getAs[Float]("lo").toDouble, r.getAs[Float]("hi").toDouble)).toMap
    rows.foreach { r =>
      val (lo, hi) = ranges(r.getAs[Int]("pos"))
      val c = r.getAs[Double]("centroid")
      assert(c >= lo - 1e-4 && c <= hi + 1e-4,
        s"centroid $c outside [$lo,$hi] at pos ${r.getAs[Int]("pos")}")
    }
  }

  test("q_sssp: source at 0, positive weights, neighbor-dominance") {
    val rows = q("q_sssp").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(rows(0L) == 0L, "source distance must be 0")
    assert(rows.filter(_._1 != 0L).values.forall(_ >= 1L))
    // a reached node's dist can never exceed the direct edge from the
    // source (relaxation dominance) — recompute the source's direct
    // edges the same way the key builds them
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sup")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.sup") =!= col("b.sup"))
      .filter(col("a.sup") === 0L)
      .groupBy(col("b.sup").as("dst")).agg(count(lit(1)).as("co"))
      .select(col("dst"),
        when(col("co") >= 10, lit(1L)).otherwise(lit(11L) - col("co")).as("w"))
      .collect().map(r => r.getAs[Long]("dst") -> r.getAs[Long]("w"))
    e0.foreach { case (dst, w) =>
      assert(rows.contains(dst) && rows(dst) <= w,
        s"dist(${dst})=${rows.get(dst)} exceeds direct edge $w")
    }
  }

  test("q_mutual_info: grid totals and non-negativity up to rounding") {
    val rows = q("q_mutual_info").collect()
    val liCount = spark.read
      .parquet(s"${TestSpark.Sf0001}/lineitem.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum == liCount)
    val totals = rows.map(_.getAs[Double]("mi_total")).toSet
    assert(totals.size == 1, "mi_total must be the same on every row")
    // exact MI is ≥ 0; round-6 per-cell terms can only move the sum by
    // |cells| × 5e-7
    assert(totals.head >= -1e-5, s"MI ${totals.head} below rounding floor")
  }

  test("q_seasonality: 7 dows, day-weighted index averages to 1") {
    val rows = q("q_seasonality").collect()
    assert(rows.map(_.getAs[Int]("dow")).sorted.toSeq == (0 until 7))
    val wSum = rows.map(r =>
      r.getAs[Double]("seasonal_index") * r.getAs[Long]("n_days")).sum
    val nDays = rows.map(_.getAs[Long]("n_days")).sum
    assert(math.abs(wSum / nDays - 1.0) < 1e-4,
      s"day-weighted seasonal index ${wSum / nDays} != 1")
  }

  test("q_winsorize: bounds sandwich both robust means") {
    q("q_winsorize").collect().foreach { r =>
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      assert(lo <= hi)
      val wins = r.getAs[Double]("wins_mean")
      val trim = r.getAs[Double]("trim_mean")
      assert(wins >= lo - 1e-9 && wins <= hi + 1e-9, s"wins_mean $wins outside [$lo,$hi]")
      assert(trim >= lo - 1e-9 && trim <= hi + 1e-9, s"trim_mean $trim outside [$lo,$hi]")
    }
  }

  test("q_ngram_coverage: OOV shares agree with a sequential recount") {
    val docs = spark.read
      .parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select("lang", "text").collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[String]("text"))
    val words = docs.flatMap { case (l, t) => t.split(" ").map(l -> _) }
    val vocab = words.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(20).map(_._1).toSet
    val exp = words.groupBy(_._1).map { case (l, ws) =>
      l -> ((ws.length.toLong, ws.count(w => !vocab(w._2)).toLong))
    }
    q("q_ngram_coverage").collect().foreach { r =>
      val (tot, oov) = exp(r.getAs[String]("lang"))
      assert(r.getAs[Long]("total_tokens") == tot)
      assert(r.getAs[Long]("oov_tokens") == oov)
      assert(math.abs(r.getAs[Double]("oov_share") - oov.toDouble / tot) < 1e-6)
    }
  }

  test("q_forecast_naive: forecast column IS the 7-day-lag actual") {
    val rows = q("q_forecast_naive").collect()
    val actualByDay = rows.map(r =>
      r.getAs[java.sql.Date]("day").toLocalDate ->
        r.getAs[Double]("actual")).toMap
    var checked = 0
    rows.foreach { r =>
      val d = r.getAs[java.sql.Date]("day").toLocalDate
      actualByDay.get(d.minusDays(7)).foreach { prev =>
        assert(r.getAs[Double]("forecast") == prev,
          s"forecast at $d != actual at ${d.minusDays(7)}")
        checked += 1
      }
    }
    assert(checked > 100, s"too few overlapping days checked: $checked")
    val mapes = rows.map(_.getAs[Double]("mape")).toSet
    assert(mapes.size == 1 && mapes.head >= 0)
  }

  test("q_effect_size: sign and magnitude consistency") {
    val r = q("q_effect_size").collect().head
    val (m1, m2) = (r.getAs[Double]("mean1"), r.getAs[Double]("mean2"))
    val d = r.getAs[Double]("cohen_d")
    val g = r.getAs[Double]("hedges_g")
    assert(r.getAs[Long]("n1") > 0 && r.getAs[Long]("n2") > 0)
    // d and the mean difference must share a sign; the Hedges correction
    // shrinks magnitude without flipping sign
    assert(math.signum(d) == math.signum(m1 - m2) || d == 0.0)
    assert(math.abs(g) <= math.abs(d) + 1e-12 &&
      math.signum(g) == math.signum(d))
  }

  test("q_quantile_bands: ordered bands over calendar-bounded weeks") {
    val rows = q("q_quantile_bands").collect()
    assert(rows.length > 100)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_days")
      assert(n >= 1 && n <= 7, s"week with $n days")
      val (p10, p50, p90) = (r.getAs[Double]("p10"),
        r.getAs[Double]("p50"), r.getAs[Double]("p90"))
      assert(p10 <= p50 && p50 <= p90, s"bands unordered: $p10 $p50 $p90")
    }
  }

  test("q_impute: medians and means agree with a sequential recount") {
    val raw = graft.Tables.events(spark, TestSpark.Sf0001)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value")))
    val byType = raw.groupBy(_._1)
    val got = q("q_impute").collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    byType.foreach { case (et, rows) =>
      val vs = rows.collect { case (_, id, v) if id % 97 != 0 => v }
      val miss = rows.count(_._2 % 97 == 0)
      val k = math.ceil(vs.length * 0.5).toLong.toInt
      val med = vs.sorted.apply(k - 1)
      val r = got(et)
      assert(r.getAs[Long]("n") == rows.length)
      assert(r.getAs[Long]("n_missing") == miss)
      assert(math.abs(r.getAs[Double]("median_used") - med) < 5e-5,
        s"$et median ${r.getAs[Double]("median_used")} != $med")
      // mean_after interpolates between before-mean and the median
      val lo = math.min(r.getAs[Double]("mean_before"), med)
      val hi = math.max(r.getAs[Double]("mean_before"), med)
      val after = r.getAs[Double]("mean_after")
      assert(after >= lo - 5e-5 && after <= hi + 5e-5)
    }
  }

  test("q_negative_sample: full grid accounted, checksums exact") {
    val rows = q("q_negative_sample").collect()
    val pos = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .join(spark.read.parquet(s"${TestSpark.Sf0001}/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().count()
    // every (positive, draw) lands in exactly one (j, collision) cell
    Seq(1, 2).foreach { j =>
      val n = rows.filter(_.getAs[Int]("j") == j).map(_.getAs[Long]("n")).sum
      assert(n == pos, s"draw $j covers $n of $pos positives")
    }
    // determinism: a second run returns the identical grid
    val again = q("q_negative_sample").collect()
    assert(rows.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("q_interval_union: coverage bounded by island spans and intervals") {
    val rows = q("q_interval_union").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nIv = r.getAs[Long]("n_intervals")
      val nIsl = r.getAs[Long]("n_islands")
      val cov = r.getAs[Long]("covered_days")
      assert(nIsl >= 1 && nIsl <= nIv)
      // every island spans at least one interval length (7 days) and at
      // most the sum of its interval lengths
      assert(cov >= nIsl * 7, s"cov $cov < ${nIsl * 7}")
      assert(cov <= nIv * 7, s"cov $cov > ${nIv * 7}")
    }
  }

  test("q_mann_whitney: matches an independent sequential rank computation") {
    val raw = graft.Tables.events(spark, TestSpark.Sf0001)
      .select("event_id", "value").collect()
      .map(r => (r.getAs[Long]("event_id") % 2 == 0, r.getAs[Double]("value")))
    val sorted = raw.sortBy(_._2)
    // average ranks with ties, sequentially
    val n = sorted.length
    val avgRank = new Array[Double](n)
    var i = 0
    while (i < n) {
      var j = i
      while (j + 1 < n && sorted(j + 1)._2 == sorted(i)._2) j += 1
      val r = (i + 1 + j + 1) / 2.0
      (i to j).foreach(k => avgRank(k) = r)
      i = j + 1
    }
    val n1 = sorted.count(_._1).toLong
    val n2 = n - n1
    val r1 = sorted.zipWithIndex.collect {
      case ((true, _), k) => avgRank(k) }.sum
    val u1 = r1 - n1 * (n1 + 1) / 2.0
    val row = q("q_mann_whitney").collect().head
    assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
    assert(math.abs(row.getAs[Double]("u1") - u1) < 0.51,
      s"u1 ${row.getAs[Double]("u1")} != $u1")
    // z sign must agree with the direction of the mean-rank difference
    val meanR1 = r1 / n1
    val meanR2 = (avgRank.sum - r1) / n2
    assert(math.signum(row.getAs[Double]("z")) ==
      math.signum(meanR1 - meanR2) || row.getAs[Double]("z") == 0.0)
  }

  test("q_pr_auc: agrees with a sequential sweep and stays in [0,1]") {
    val raw = graft.Tables.events(spark, TestSpark.Sf0001)
      .select("event_type", "value").collect()
      .map(r => (1.0 / (1.0 + math.exp(-(r.getAs[Double]("value") - 50.0) / 10.0)),
        if (r.getAs[String]("event_type") == "purchase") 1L else 0L))
    val grain = raw.groupBy(_._1).toSeq
      .map { case (p, rs) => (p, rs.length.toLong, rs.map(_._2).sum) }
      .sortBy(-_._1)
    val posTot = grain.map(_._3).sum
    var cumN = 0L; var cumP = 0L
    val terms = grain.map { case (_, cn, np) =>
      cumN += cn; cumP += np
      BigDecimal((np.toDouble / posTot) * (cumP.toDouble / cumN))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = terms.sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val row = q("q_pr_auc").collect().head
    val auc = row.getAs[Double]("auc_pr")
    assert(auc >= 0.0 && auc <= 1.0)
    assert(math.abs(auc - expected.toDouble) < 5e-4,
      s"auc_pr $auc != sequential $expected")
    assert(row.getAs[Long]("n_pos") == posTot)
  }

  test("q_schema_profile: one row per column, consistent counts") {
    val rows = q("q_schema_profile").collect()
    assert(rows.map(_.getAs[String]("col_name")).sorted.toSeq ==
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag"))
    val liCount = spark.read
      .parquet(s"${TestSpark.Sf0001}/lineitem.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == liCount)
      assert(r.getAs[Long]("n_null") >= 0 && r.getAs[Long]("n_null") <= liCount)
      val nd = r.getAs[Long]("n_distinct")
      assert(nd >= 1 && nd <= liCount)
      if (r.getAs[String]("col_name") == "l_returnflag") {
        assert(r.isNullAt(r.fieldIndex("min_v")) && !r.isNullAt(r.fieldIndex("min_s")))
        assert(r.getAs[String]("min_s") <= r.getAs[String]("max_s"))
      } else {
        assert(r.isNullAt(r.fieldIndex("min_s")) && !r.isNullAt(r.fieldIndex("min_v")))
        assert(r.getAs[Double]("min_v") <= r.getAs[Double]("max_v"))
      }
    }
  }
}
