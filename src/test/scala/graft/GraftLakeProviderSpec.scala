package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("graftlake")` — the SQL-reachable face of
  * SnapshotLake (r16, VERDICT r15 item 9). Pins:
  *  1. latest / time-travel / incremental reads ≡ the object API
  *     (readLatest / readAt / readIncremental), byte-for-byte;
  *  2. evolved-schema projection: an addColumn directive surfaces as a
  *     typed NULL on pre-evolution dirs and reads through on
  *     post-evolution appends — and a rename-evolved snapshot REFUSES
  *     loudly instead of silently null-filling pre-rename history;
  *  3. pruned scans: the plan is the NATIVE parquet scan (vectorized,
  *     codegen, PushedFilters, pruned ReadSchema) over EXACTLY the
  *     manifest's files — orphaned/uncommitted data dirs are invisible;
  *  4. the DDL surface: CREATE TEMPORARY VIEW ... USING graftlake.
  */
class GraftLakeProviderSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  test("latest and time-travel reads equal readLatest/readAt byte-for-byte") {
    import s.implicits._
    val table = tmpDir("glake-tt")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table)
    val latest = s.read.format("graftlake").load(table)
    assert(rows(latest) == rows(SnapshotLake.readLatest(s, table)))
    assert(latest.count() == 3L)
    val at1 = s.read.format("graftlake").option("snapshotId", "1")
      .load(table)
    assert(rows(at1) == rows(SnapshotLake.readAt(s, table, 1L)))
    assert(at1.count() == 2L)
    // byte-stable while more commits land
    SnapshotLake.commit(Seq((4L, "d")).toDF("k", "v"), table)
    assert(rows(s.read.format("graftlake").option("snapshotId", "1")
      .load(table)) == rows(at1))
  }

  test("sinceSnapshotId reads exactly the incremental delta (≡ readIncremental)") {
    import s.implicits._
    val table = tmpDir("glake-incr")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((4L, "d")).toDF("k", "v"), table)
    val delta = s.read.format("graftlake")
      .option("sinceSnapshotId", "1").option("snapshotId", "3").load(table)
    assert(rows(delta) == rows(SnapshotLake.readIncremental(s, table, 1L, 3L)))
    assert(delta.count() == 3L)
  }

  test("addColumn directive: typed NULL on old dirs, real values on new appends") {
    import s.implicits._
    val table = tmpDir("glake-evolve")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    SnapshotLake.addColumn(s, table, "score", "double")
    val evolved = s.read.format("graftlake").load(table)
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(rows(evolved) == rows(SnapshotLake.readLatest(s, table)))
    assert(evolved.where(col("score").isNull).count() == 1L)
    // a post-evolution append CARRIES the column; both generations read
    SnapshotLake.commit(
      Seq((2L, "b", 0.5)).toDF("k", "v", "score"), table)
    val both = s.read.format("graftlake").load(table)
    assert(rows(both) == rows(SnapshotLake.readLatest(s, table)))
    assert(both.where(col("score") === 0.5).count() == 1L)
    // time travel BEFORE the ALTER keeps the old schema
    val pre = s.read.format("graftlake").option("snapshotId", "1").load(table)
    assert(pre.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("rename-evolved snapshots scan natively by field id (≡ readAt, r17)") {
    import s.implicits._
    val table = tmpDir("glake-rename")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    // a stream-ingested dir (the idempotent commit) carries ids too
    SnapshotLake.commitIdempotent(Seq((5L, "e")).toDF("k", "v"), table,
      "batch-0")
    SnapshotLake.renameColumn(s, table, "v", "val")
    // pre-rename history reads through the NEW logical name: the r16
    // refusal is lifted by column mapping — the requested schema carries
    // the origin-hash field ids the pre-rename files were written with
    val native = s.read.format("graftlake").load(table)
    assert(native.schema.fieldNames.toSeq == Seq("k", "val"))
    assert(rows(native) == rows(SnapshotLake.readLatest(s, table)))
    assert(rows(native) == Set(Vector(1L, "a"), Vector(5L, "e")))
    // a post-rename append writes the new physical name; both read
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "val"), table)
    assert(rows(s.read.format("graftlake").load(table)) ==
      Set(Vector(1L, "a"), Vector(5L, "e"), Vector(2L, "b")))
    // chained rename still maps (origin resolves through the chain)
    SnapshotLake.renameColumn(s, table, "val", "label")
    assert(rows(s.read.format("graftlake").load(table)) ==
      rows(SnapshotLake.readLatest(s, table)))
    assert(s.read.format("graftlake").load(table)
      .filter(col("label") === "a").count() == 1L)
  }

  test("a legacy dir without field ids keeps the rename refusal; compact lifts it") {
    import s.implicits._
    val table = tmpDir("glake-rename-legacy")
    // simulate a pre-r17 dir: write WITHOUT field ids and hand-commit it
    val legacy = s"$table/data/legacy-${java.util.UUID.randomUUID()}"
    Seq((1L, "a")).toDF("k", "v").write.parquet(legacy)
    assert(SnapshotLake.tryCommitManifest(s, table, 1L, Seq(legacy)))
    SnapshotLake.renameColumn(s, table, "v", "val")
    val e = intercept[IllegalArgumentException] {
      s.read.format("graftlake").load(table).collect()
    }
    assert(e.getMessage.contains("compact"),
      s"refusal must point at the upgrade path: ${e.getMessage}")
    // the object API always reads renamed tables
    assert(SnapshotLake.readLatest(s, table).columns.toSeq ==
      Seq("k", "val"))
    // compact rewrites the legacy dir with ids -> native scan lifts
    assert(SnapshotLake.compact(s, table).isDefined)
    assert(rows(s.read.format("graftlake").load(table)) ==
      rows(SnapshotLake.readLatest(s, table)))
  }

  test("native pruned parquet scan over exactly the manifest's files") {
    import s.implicits._
    val table = tmpDir("glake-scan")
    SnapshotLake.commit((1L to 100L).map(i => (i, s"r$i", i * 2))
      .toDF("k", "v", "w"), table)
    // an orphaned dir (crashed writer) must be invisible to the scan
    SnapshotLake.writeData(Seq((999L, "torn", 0L)).toDF("k", "v", "w"),
      table, 1000000L)
    val df = s.read.format("graftlake").load(table)
      .where(col("k") > 90L).select("k", "v")
    assert(df.count() == 10L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"),
      s"not the native parquet scan:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"),
      s"dropped out of Tungsten:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,90)"),
      s"filter not pushed to parquet:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint,v:string>"),
      s"column pruning lost (w must not be read):\n$plan")
    // the scan's input files are the manifest's, not the directory's
    val files = df.inputFiles
    assert(files.nonEmpty && files.forall(f =>
      SnapshotLake.manifestDirs(s, table, 1L).exists(d =>
        f.contains(new java.io.File(d).getName))),
      s"scan read outside the manifest: ${files.mkString(", ")}")
  }

  test("DDL surface: CREATE TEMPORARY VIEW ... USING graftlake") {
    import s.implicits._
    val table = tmpDir("glake-ddl")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table)
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW glake_ddl_v
              USING graftlake
              OPTIONS (path '$table', snapshotId '1')""")
    try {
      val got = s.sql("SELECT k, v FROM glake_ddl_v ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a"), (2L, "b")))
    } finally s.sql("DROP VIEW IF EXISTS glake_ddl_v")
  }
}
