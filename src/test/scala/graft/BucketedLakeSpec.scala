package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed snapshot tables (r18): `SnapshotLake.commitBucketed` routes
  * rows to `pmod(murmur3(bucketCols), n)` buckets (Spark's own bucket
  * function), tags every file with the `_%05d` bucket id, and records a
  * `#bucket` manifest line; the V1 relation then declares the BucketSpec
  * and Spark plans joins / aggregations on the bucket columns across two
  * same-layout tables WITHOUT a shuffle — the co-located-join shape that
  * deletes the dominant exchange of a 100 TB fact-to-fact join. Pins:
  *  1. values: bucketed read ≡ the plain frame, at every scale knob;
  *  2. THE plan claim: join of two bucketed tables on the bucket columns
  *     carries ZERO ShuffleExchange; groupBy on them likewise;
  *  3. the layout invariant: plain appends refuse, mismatched bucketed
  *     appends refuse, matching bucketed appends extend the layout;
  *  4. mutations preserve the layout (r19): rewritten directories route
  *     through the same bucket function, the `#bucket` line survives,
  *     and the post-mutation join is still exchange-free. */
class BucketedLakeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    // AQE nests exchanges inside materialized query stages, which plain
    // collect() does not traverse — count them in the FINAL plan string
    val plan = df.queryExecution.executedPlan.toString
    "Exchange (hash|range|single)".r.findAllIn(plan).length
  }

  private def frame(nRows: Int, tag: String): DataFrame = {
    import s.implicits._
    (1 to nRows).map(i => (i.toLong, s"$tag$i", i * 2.0))
      .toDF("k", "v", "x")
  }

  test("bucketed read ≡ plain values; join + groupBy on bucket cols run " +
       "with ZERO shuffles; unbucketed twin pays them") {
    val a = tmpDir("blk-a"); val b = tmpDir("blk-b")
    val ua = tmpDir("blk-ua"); val ub = tmpDir("blk-ub")
    SnapshotLake.commitBucketed(frame(500, "a"), a, Seq("k"), 8)
    SnapshotLake.commitBucketed(frame(300, "b"), b, Seq("k"), 8)
    SnapshotLake.commit(frame(500, "a"), ua)
    SnapshotLake.commit(frame(300, "b"), ub)
    def lake(t: String) = s.read.format("graftlake").load(t)
    // values identical to the plain layout
    assert(rows(lake(a)) == rows(frame(500, "a")))
    // the co-located join: zero exchanges under the bucketed pair
    val bj = lake(a).join(lake(b).select(col("k"), col("v").as("bv")), "k")
    val pj = lake(ua).join(lake(ub).select(col("k"), col("v").as("bv")), "k")
    assert(rows(bj) == rows(pj), "bucketed join changed values")
    // disable broadcast so the join shape is the fact-to-fact one
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bj2 = lake(a).join(lake(b).select(col("k"), col("v").as("bv")),
        "k")
      val pj2 = lake(ua).join(lake(ub).select(col("k"), col("v").as("bv")),
        "k")
      assert(shuffles(bj2) == 0,
        s"bucketed join must not shuffle:\n${bj2.queryExecution.executedPlan}")
      assert(shuffles(pj2) > 0, "the unbucketed twin should pay exchanges")
      // aggregation on the bucket column: partial+final without exchange
      val bAgg = lake(a).groupBy("k").agg(sum("x").as("sx"))
      assert(shuffles(bAgg) == 0,
        s"bucketed groupBy must not shuffle:\n${bAgg.queryExecution.executedPlan}")
      assert(rows(bAgg) == rows(lake(ua).groupBy("k")
        .agg(sum("x").as("sx"))))
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("layout invariant: plain appends refuse, mismatched bucketed " +
       "appends refuse, matching appends extend; mutations preserve " +
       "the layout with reads intact (r19)") {
    import s.implicits._
    val t = tmpDir("blk-inv")
    SnapshotLake.commitBucketed(frame(100, "a"), t, Seq("k"), 4)
    // plain append refuses loudly
    val ex1 = intercept[IllegalArgumentException](
      SnapshotLake.commit(Seq((9000L, "z", 1.0)).toDF("k", "v", "x"), t))
    assert(ex1.getMessage.contains("bucket"))
    // mismatched layout refuses
    val ex2 = intercept[IllegalArgumentException](
      SnapshotLake.commitBucketed(frame(10, "m"), t, Seq("k"), 8))
    assert(ex2.getMessage.contains("bucket"))
    val ex3 = intercept[IllegalArgumentException](
      SnapshotLake.commitBucketed(frame(10, "m"), t, Seq("v"), 4))
    assert(ex3.getMessage.contains("bucket"))
    // matching append extends the layout; the join stays shuffle-free
    SnapshotLake.commitBucketed(
      (501 to 600).map(i => (i.toLong, s"a$i", i * 2.0))
        .toDF("k", "v", "x"), t, Seq("k"), 4)
    assert(s.read.format("graftlake").load(t).count() == 200)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val self = s.read.format("graftlake").load(t)
      val j = self.join(
        s.read.format("graftlake").load(t).select(col("k"),
          col("x").as("x2")), "k")
      assert(shuffles(j) == 0, "two-dir bucketed self-join must co-locate")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // a mutation rewrites THROUGH the layout (r19) — values right, the
    // #bucket line survives, co-located joins keep working
    assert(SnapshotLake.delete(s, t, col("k") === 1L).isDefined)
    val post = SnapshotLake.latest(s, t).get
    assert(SnapshotLake.manifestBucket(s, t, post)
        .contains((4, Seq("k"), Seq())),
      "a CoW mutation must preserve the bucket layout (r19)")
    assert(s.read.format("graftlake").load(t).count() == 199)
  }

  test("SQL lifecycle: CREATE TABLE CLUSTERED BY + INSERT INTO/OVERWRITE " +
       "preserve the layout; the V1 read joins shuffle-free (r18)") {
    val root = tmpDir("blk-sql")
    val t = s"$root/bt"
    s.sql(s"CREATE TABLE graftlake.`$t` (k BIGINT, v STRING) " +
      "CLUSTERED BY (k) INTO 4 BUCKETS")
    // the layout is recorded and reported from the very first snapshot
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).contains((4, Seq("k"), Seq())))
    assert(s.sql(s"DESCRIBE EXTENDED graftlake.`$t`").collect()
      .map(_.toSeq.mkString(" ")).exists(_.contains("bucket")))
    // INSERT INTO routes through the demanded clustered distribution
    // and KEEPS the line (plain V1 appends would refuse; V2 routes)
    s.sql(s"INSERT INTO graftlake.`$t` " +
      "SELECT id AS k, concat('v', id) AS v FROM range(1, 301)")
    s.sql(s"INSERT INTO graftlake.`$t` " +
      "SELECT id AS k, concat('w', id) AS v FROM range(301, 401)")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).isDefined,
      "INSERT INTO must preserve the bucket layout")
    assert(s.read.format("graftlake").load(t).count() == 400)
    // every landed file carries a valid bucket tag and routes exactly
    SnapshotLake.manifestDirs(s, t, SnapshotLake.latest(s, t).get)
      .foreach { dir =>
        new java.io.File(dir).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")).foreach { f =>
            val b = org.apache.spark.sql.execution.datasources
              .BucketingUtils.getBucketId(f.getName).getOrElse(
                fail(s"untagged file from SQL insert: ${f.getName}"))
            val bad = s.read.parquet(f.getAbsolutePath)
              .filter(pmod(hash(col("k")), lit(4)) =!= b).count()
            assert(bad == 0, s"${f.getName}: $bad rows off-bucket")
          }
      }
    // the co-located join through the V1 read, across the SQL-written dirs
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = s.read.format("graftlake").load(t)
      val j = l.join(s.read.format("graftlake").load(t)
        .select(col("k"), col("v").as("v2")), "k")
      assert(shuffles(j) == 0,
        s"SQL-written buckets must co-locate:\n${j.queryExecution.executedPlan}")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // INSERT OVERWRITE replaces the data and keeps the layout
    s.sql(s"INSERT OVERWRITE graftlake.`$t` " +
      "SELECT id AS k, concat('o', id) AS v FROM range(1, 51)")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).isDefined)
    assert(s.read.format("graftlake").load(t).count() == 50)
    // a row-level mutation preserves the layout (r19): the rewrite
    // routes through the demanded clustered distribution, values right
    s.sql(s"UPDATE graftlake.`$t` SET v = 'X' WHERE k = 5")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).contains((4, Seq("k"), Seq())),
      "SQL UPDATE must preserve the bucket layout (r19)")
    assert(rows(s.read.format("graftlake").load(t)
      .filter(col("k") === 5L)) == Set(Seq[Any](5L, "X")))
  }

  test("compact preserves the layout and bin-packs; ALTER carries it; " +
       "bucket-column rename/drop refuse (r18)") {
    import s.implicits._
    val t = tmpDir("blk-compact")
    SnapshotLake.commitBucketed(frame(100, "a"), t, Seq("k"), 4)
    SnapshotLake.commitBucketed(
      (101 to 200).map(i => (i.toLong, s"a$i", i * 2.0))
        .toDF("k", "v", "x"), t, Seq("k"), 4)
    assert(SnapshotLake.manifestDirs(s, t,
      SnapshotLake.latest(s, t).get).size == 2)
    // compact: one dir, layout KEPT, join still shuffle-free
    val cid = SnapshotLake.compact(s, t).get
    assert(SnapshotLake.manifestDirs(s, t, cid).size == 1,
      "compact must bin-pack the bucketed dirs")
    assert(SnapshotLake.manifestBucket(s, t, cid)
      .contains((4, Seq("k"), Seq())),
      "compact must preserve the bucket layout")
    assert(s.read.format("graftlake").load(t).count() == 200)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val l = s.read.format("graftlake").load(t)
      val j = l.join(s.read.format("graftlake").load(t)
        .select(col("k"), col("x").as("x2")), "k")
      assert(shuffles(j) == 0, "post-compact join must stay co-located")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // ALTER ADD carries the layout (no data rewrite); while directives
    // exist the relation declares no BucketSpec (conservative), and
    // compact materializes the ALTER and RESTORES the declaration
    SnapshotLake.addColumn(s, t, "note", "string")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).isDefined,
      "ALTER must not drop the bucket layout")
    assert(s.read.format("graftlake").load(t).columns.contains("note"))
    val cid2 = SnapshotLake.compact(s, t).get
    assert(SnapshotLake.manifestDirectives(s, t, cid2).isEmpty &&
      SnapshotLake.manifestBucket(s, t, cid2).isDefined)
    // renaming or dropping a BUCKET column refuses while the layout lives
    val exR = intercept[IllegalArgumentException](
      SnapshotLake.renameColumn(s, t, "k", "kk"))
    assert(exR.getMessage.contains("bucket layout"))
    val exD = intercept[IllegalArgumentException](
      SnapshotLake.dropColumn(s, t, "k"))
    assert(exD.getMessage.contains("bucket layout"))
    // non-bucket columns evolve freely
    SnapshotLake.renameColumn(s, t, "note", "memo")
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).isDefined)
    // a matching bucketed append still refuses a dropped column
    SnapshotLake.dropColumn(s, t, "x")
    val exX = intercept[IllegalArgumentException](
      SnapshotLake.commitBucketed(frame(5, "d"), t, Seq("k"), 4))
    assert(exX.getMessage.contains("dropped column"))
  }

  test("bucket routing matches Spark's bucket function file by file") {
    import s.implicits._
    val t = tmpDir("blk-route")
    SnapshotLake.commitBucketed(frame(200, "r"), t, Seq("k"), 8)
    val dir = SnapshotLake.manifestDirs(s, t,
      SnapshotLake.latest(s, t).get).head
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    assert(files.nonEmpty)
    files.foreach { f =>
      val bucketId = org.apache.spark.sql.execution.datasources
        .BucketingUtils.getBucketId(f.getName).getOrElse(
          fail(s"no bucket tag on ${f.getName}"))
      // every row in the file must hash to exactly that bucket under
      // Spark's own function (pmod(hash(cols), n) — hash() IS murmur3-42)
      val bad = s.read.parquet(f.getAbsolutePath)
        .filter(pmod(hash(col("k")), lit(8)) =!= bucketId).count()
      assert(bad == 0, s"${f.getName}: $bad rows off-bucket")
    }
  }
}
