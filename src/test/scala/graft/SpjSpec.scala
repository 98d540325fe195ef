package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned joins on the V2 catalog (r19, VERDICT r18 item 1):
  * a bucket-laid-out graftlake table's SQL scan reports
  * `KeyGroupedPartitioning(bucket(n, cols), n)` and the catalog serves
  * the `bucket` function, so `graftlake.a JOIN graftlake.b` on the
  * bucket columns plans with ZERO shuffle exchanges — the co-located
  * join the V1 provider's BucketSpec already gives the object API, now
  * on the SQL path. Pins:
  *  1. values: the SPJ join ≡ the unbucketed twin's join, row for row;
  *  2. THE plan claim: zero exchanges bucketed, >0 unbucketed;
  *  3. compatibility edges: different bucket counts shuffle (no wrong
  *     co-location), joins off the bucket column shuffle;
  *  4. the report survives the SQL INSERT INTO path (write-side routing
  *     and scan-side grouping agree end-to-end).
  */
class SpjSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The adaptive FINAL plan only (the toString also appends the initial
    * plan, which would double-count exchanges). */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Ordinary two-sided shuffle exchanges (hash/range/single). */
  private def shuffles(df: DataFrame): Int =
    "Exchange (hash|range|single)".r.findAllIn(finalPlan(df)).length

  /** Storage-partitioned shuffles: one side re-routed INTO the other's
    * reported bucket layout by evaluating the catalog's bucket function
    * (`spark.sql.sources.v2.bucketing.shuffle.enabled`). */
  private def kgShuffles(df: DataFrame): Int =
    "Exchange keygroupedpartitioning".r.findAllIn(finalPlan(df)).length

  private def frame(nRows: Int, tag: String): DataFrame = {
    import s.implicits._
    (1 to nRows).map(i => (i.toLong, s"$tag$i", i * 2.0))
      .toDF("k", "v", "x")
  }

  private def withNoBroadcast[T](body: => T): T = {
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("SQL join of two same-layout bucketed tables plans exchange-free; " +
       "unbucketed twin pays the shuffles; values identical") {
    val a = tmpDir("spj-a"); val b = tmpDir("spj-b")
    val ua = tmpDir("spj-ua"); val ub = tmpDir("spj-ub")
    SnapshotLake.commitBucketed(frame(500, "a"), a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(300, "b"), b, Seq("k"), 8)
    SnapshotLake.commit(frame(500, "a"), ua)
    SnapshotLake.commit(frame(300, "b"), ub)
    withNoBroadcast {
      val spj = s.sql(
        s"SELECT a.k, a.v, b.v AS bv FROM graftlake.`$a` a " +
        s"JOIN graftlake.`$b` b ON a.k = b.k")
      val twin = s.sql(
        s"SELECT a.k, a.v, b.v AS bv FROM graftlake.`$ua` a " +
        s"JOIN graftlake.`$ub` b ON a.k = b.k")
      assert(rows(spj) == rows(twin))
      assert(rows(spj).size == 300)
      assert(shuffles(spj) == 0,
        s"bucketed SQL join should be exchange-free:\n" +
        spj.queryExecution.executedPlan)
      assert(shuffles(twin) > 0)
    }
  }

  test("DIVISIBLE bucket counts co-locate via the reducer (n=8 ⋈ n=4 " +
       "exchange-free); non-divisible counts and off-column joins fall " +
       "back to the exchange plan (correct, never falsely co-located)") {
    val a = tmpDir("spj-n8"); val b = tmpDir("spj-n4")
    val c = tmpDir("spj-n3")
    SnapshotLake.commitBucketed(frame(200, "a"), a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(200, "b"), b, Seq("k"), 4)
    SnapshotLake.commitBucketed(frame(200, "c"), c, Seq("k"), 3)
    withNoBroadcast {
      // 4 | 8: GraftBucketReducer folds the 8-side ids mod 4 — sound
      // because pmod(h,8) % 4 == pmod(h,4) — so the join co-locates
      val mixed = s.sql(
        s"SELECT a.k, b.v AS bv FROM graftlake.`$a` a " +
        s"JOIN graftlake.`$b` b ON a.k = b.k")
      assert(rows(mixed).size == 200)
      assert(mixed.collect().forall(r =>
        r.getString(1) == s"b${r.getLong(0)}"))
      assert(shuffles(mixed) == 0 && kgShuffles(mixed) == 0,
        s"divisible bucket counts (8 vs 4) must co-locate:\n" +
        mixed.queryExecution.executedPlan)
      // 3 ∤ 8: no sound reduction exists — but the bucket function is
      // evaluable, so Spark re-routes ONLY the 3-side into the 8-bucket
      // layout (one storage-partitioned shuffle, not two hash shuffles)
      val nondiv = s.sql(
        s"SELECT a.k FROM graftlake.`$a` a JOIN graftlake.`$c` b " +
        "ON a.k = b.k")
      assert(rows(nondiv).size == 200)
      assert(shuffles(nondiv) == 0 && kgShuffles(nondiv) == 1,
        s"non-divisible counts should shuffle exactly one side:\n" +
        nondiv.queryExecution.executedPlan)
      // join off the bucket column: v is not the layout key — full
      // two-sided exchange plan, never a false co-location
      val off = s.sql(
        s"SELECT a.k FROM graftlake.`$a` a JOIN graftlake.`$a` b " +
        "ON a.v = b.v")
      assert(rows(off).size == 200)
      assert(shuffles(off) > 0)
    }
  }

  test("bucketed ⋈ unbucketed: storage-partitioned shuffle moves ONLY " +
       "the unbucketed side into the bucket layout (1 exchange, not 2)") {
    val a = tmpDir("spj-one"); val u = tmpDir("spj-one-u")
    SnapshotLake.commitBucketed(frame(300, "a"), a, Seq("k"), 8)
    SnapshotLake.commit(frame(300, "u"), u)
    withNoBroadcast {
      val j = s.sql(
        s"SELECT a.k, u.v AS uv FROM graftlake.`$a` a " +
        s"JOIN graftlake.`$u` u ON a.k = u.k")
      assert(rows(j).size == 300)
      assert(j.collect().forall(r => r.getString(1) == s"u${r.getLong(0)}"))
      assert(shuffles(j) == 0 && kgShuffles(j) == 1,
        s"only the unbucketed side should shuffle (storage-partitioned):\n" +
        j.queryExecution.executedPlan)
    }
  }

  test("SQL CREATE TABLE CLUSTERED BY + INSERT INTO lands the layout; " +
       "the join over two SQL-built tables is exchange-free") {
    val a = tmpDir("spj-sqla"); val b = tmpDir("spj-sqlb")
    s.sql(s"CREATE TABLE graftlake.`$a` (k BIGINT, v STRING, x DOUBLE) " +
      "CLUSTERED BY (k) INTO 8 BUCKETS")
    s.sql(s"CREATE TABLE graftlake.`$b` (k BIGINT, v STRING, x DOUBLE) " +
      "CLUSTERED BY (k) INTO 8 BUCKETS")
    frame(400, "a").createOrReplaceTempView("spj_src_a")
    frame(250, "b").createOrReplaceTempView("spj_src_b")
    s.sql(s"INSERT INTO graftlake.`$a` SELECT * FROM spj_src_a")
    s.sql(s"INSERT INTO graftlake.`$b` SELECT * FROM spj_src_b")
    withNoBroadcast {
      val j = s.sql(
        s"SELECT a.k, a.v, b.v AS bv FROM graftlake.`$a` a " +
        s"JOIN graftlake.`$b` b ON a.k = b.k")
      assert(rows(j).size == 250)
      assert(shuffles(j) == 0,
        s"SQL-built bucketed join should be exchange-free:\n" +
        j.queryExecution.executedPlan)
    }
  }

  test("row-level mutations preserve the bucket layout (r19): object-API " +
       "UPDATE/MERGE/deleteMatching keep the line, route rewrites " +
       "correctly, and the post-mutation SQL join stays exchange-free") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val a = tmpDir("spj-mut"); val b = tmpDir("spj-mut-b")
    SnapshotLake.commitBucketed(frame(400, "a"), a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(400, "b"), b, Seq("k"), 8)
    // UPDATE keeps the layout
    assert(SnapshotLake.update(s, a, col("k") <= 10L,
      Map("v" -> lit("upd"))).isDefined)
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())))
    // MERGE keeps it (rewrite dir + insert dir both routed)
    val src = Seq((5L, "m5", 0.0), (1000L, "new", 1.0)).toDF("k", "v", "x")
    assert(SnapshotLake.merge(s, a, src, Seq("k")).isDefined)
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())))
    // DELETE keeps it
    assert(SnapshotLake.delete(s, a, col("k") === 7L).isDefined)
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())))
    // every post-mutation file still routes exactly per Spark's function
    SnapshotLake.manifestDirs(s, a, SnapshotLake.latest(s, a).get)
      .foreach { dir =>
        new java.io.File(dir).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")).foreach { f =>
            val bid = org.apache.spark.sql.execution.datasources
              .BucketingUtils.getBucketId(f.getName).getOrElse(
                fail(s"untagged post-mutation file: ${f.getName}"))
            val bad = s.read.parquet(f.getAbsolutePath)
              .filter(pmod(hash(col("k")), lit(8)) =!= bid).count()
            assert(bad == 0, s"${f.getName}: $bad rows off-bucket")
          }
      }
    // values correct after the chain
    val vals = s.read.format("graftlake").load(a)
    assert(vals.count() == 400) // -1 (delete 7) +1 (insert 1000)
    assert(rows(vals.filter(col("k") === 5L)) ==
      Set(Seq[Any](5L, "m5", 0.0)))
    assert(vals.filter(col("k") === 7L).isEmpty)
    assert(rows(vals.filter(col("k") === 2L).select(col("v"))) ==
      Set(Seq[Any]("upd")))
    // and the SQL join across the mutated table is STILL exchange-free
    withNoBroadcast {
      val j = s.sql(
        s"SELECT a.k FROM graftlake.`$a` a JOIN graftlake.`$b` b " +
        "ON a.k = b.k")
      assert(rows(j).size == 399)
      assert(shuffles(j) == 0,
        s"post-mutation bucketed join must stay exchange-free:\n" +
        j.queryExecution.executedPlan)
    }
  }

  test("SQL UPDATE / MERGE / DELETE on a bucketed catalog table keep the " +
       "layout and the exchange-free join; no-op statements commit " +
       "nothing") {
    import org.apache.spark.sql.functions._
    val a = tmpDir("spj-sqlmut"); val b = tmpDir("spj-sqlmut-b")
    SnapshotLake.commitBucketed(frame(300, "a"), a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(300, "b"), b, Seq("k"), 8)
    s.sql(s"UPDATE graftlake.`$a` SET v = 'X' WHERE k = 42")
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())),
      "SQL UPDATE must keep the #bucket line")
    frame(5, "m").createOrReplaceTempView("spj_mut_src")
    s.sql(s"MERGE INTO graftlake.`$a` t USING spj_mut_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())),
      "SQL MERGE must keep the #bucket line")
    // residual (non-translatable) DELETE takes the group-based rewrite
    s.sql(s"DELETE FROM graftlake.`$a` WHERE k % 97 = 3 AND v LIKE 'a%'")
    assert(SnapshotLake.manifestBucket(s, a,
      SnapshotLake.latest(s, a).get).contains((8, Seq("k"), Seq())),
      "SQL DELETE must keep the #bucket line")
    // per-file routing still exact after the SQL mutation chain
    SnapshotLake.manifestDirs(s, a, SnapshotLake.latest(s, a).get)
      .foreach { dir =>
        new java.io.File(dir).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")).foreach { f =>
            val bid = org.apache.spark.sql.execution.datasources
              .BucketingUtils.getBucketId(f.getName).getOrElse(
                fail(s"untagged file after SQL mutation: ${f.getName}"))
            val bad = s.read.parquet(f.getAbsolutePath)
              .filter(pmod(hash(col("k")), lit(8)) =!= bid).count()
            assert(bad == 0, s"${f.getName}: $bad rows off-bucket")
          }
      }
    withNoBroadcast {
      val j = s.sql(
        s"SELECT a.k FROM graftlake.`$a` a JOIN graftlake.`$b` b " +
        "ON a.k = b.k")
      assert(shuffles(j) == 0,
        s"post-SQL-mutation join must stay exchange-free:\n" +
        j.queryExecution.executedPlan)
    }
    // no-op guard (advice): an UPDATE matching nothing leaves the table
    // at the pinned snapshot — no empty-dir commit, layout intact
    val before = SnapshotLake.latest(s, a).get
    s.sql(s"UPDATE graftlake.`$a` SET v = 'Y' WHERE k = -12345")
    assert(SnapshotLake.latest(s, a).get == before,
      "a zero-match UPDATE must not commit a snapshot")
    s.sql(s"DELETE FROM graftlake.`$a` WHERE k = -777 AND v LIKE 'q%'")
    assert(SnapshotLake.latest(s, a).get == before,
      "a zero-match residual DELETE must not commit a snapshot")
    assert(SnapshotLake.manifestBucket(s, a, before)
      .contains((8, Seq("k"), Seq())))
  }

  test("CREATE TABLE CLUSTERED BY ... SORTED BY records the sort half " +
       "and partitioning() round-trips it (advice r18)") {
    val t = tmpDir("spj-sorted")
    s.sql(s"CREATE TABLE graftlake.`$t` (k BIGINT, v STRING, x DOUBLE) " +
      "CLUSTERED BY (k) SORTED BY (x) INTO 4 BUCKETS")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).contains((4, Seq("k"), Seq("x"))),
      "SORTED BY must land in the #bucket line")
    frame(50, "s").createOrReplaceTempView("spj_sorted_src")
    s.sql(s"INSERT INTO graftlake.`$t` SELECT * FROM spj_sorted_src")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).contains((4, Seq("k"), Seq("x"))))
    // DESCRIBE no longer loses the SORTED BY half
    val desc = s.sql(s"DESCRIBE EXTENDED graftlake.`$t`").collect()
      .map(_.toSeq.mkString(" ")).mkString("\n")
    assert(desc.contains("sorted_bucket") || desc.contains("x"),
      s"DESCRIBE should surface the sort columns:\n$desc")
    assert(s.read.format("graftlake").load(t).count() == 50)
  }

  test("partially-clustered SPJ absorbs bucket skew: with " +
       "partiallyClusteredDistribution on, the hot bucket splits " +
       "across tasks and the join still plans without a full shuffle") {
    import s.implicits._
    val a = tmpDir("spj-pc"); val b = tmpDir("spj-pc-b")
    // a: heavy skew — key 7 carries 4000 rows; b: uniform
    val skewed = ((1 to 4000).map(_ => (7L, "hot", 1.0)) ++
      (1 to 200).map(i => (i.toLong, s"a$i", i * 2.0))).toDF("k", "v", "x")
    SnapshotLake.commitBucketed(skewed, a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(200, "b"), b, Seq("k"), 8)
    val sql = s"SELECT a.k, b.v AS bv FROM graftlake.`$a` a " +
      s"JOIN graftlake.`$b` b ON a.k = b.k"
    def multiset(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity)
        .map { case (r, g) => r -> g.size }
    withNoBroadcast {
      val expected = multiset(s.sql(sql)) // plain SPJ reference
      assert(expected.valuesIterator.sum == 4000 + 200)
      s.conf.set("spark.sql.sources.v2.bucketing" +
        ".partiallyClusteredDistribution.enabled", "true")
      try {
        val q = s.sql(sql)
        assert(multiset(q) == expected)
        assert(shuffles(q) == 0,
          s"partially-clustered SPJ must not fall back to a full " +
          s"shuffle:\n${q.queryExecution.executedPlan}")
      } finally s.conf.set("spark.sql.sources.v2.bucketing" +
        ".partiallyClusteredDistribution.enabled", "false")
    }
  }

  test("SPJ groupBy on the bucket column aggregates with ZERO " +
       "exchanges; values exact") {
    val a = tmpDir("spj-agg")
    SnapshotLake.commitBucketed(frame(400, "a"), a, Seq("k"), 8)
    val g = s.sql(
      s"SELECT k, count(*) AS c FROM graftlake.`$a` GROUP BY k")
    assert(rows(g).size == 400)
    assert(g.collect().forall(_.getLong(1) == 1L))
    // the KeyGroupedPartitioning satisfies the agg's clustering: both
    // HashAggregates run in one codegen span over the scan, no Exchange
    assert(shuffles(g) == 0,
      s"bucketed SQL groupBy must be exchange-free:\n" +
      g.queryExecution.executedPlan)
  }
}
