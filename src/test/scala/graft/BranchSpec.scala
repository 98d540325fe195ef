package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Branches (r19): write-audit-publish on the manifest protocol. A
  * branch is a full SnapshotLake table rooted under
  * `<table>/refs/branch-<name>` whose seed RE-REFERENCES the fork
  * point (zero copy). Pins: fork isolation both ways, SQL catalog
  * writes to the branch root, fast-forward publish (+ diverged-main
  * refusal), bucket layout riding the branch cycle, GC safety on both
  * sides (main expire keeps branch-referenced dirs; dropBranch keeps
  * published dirs), and the CALL procedures ≡ the object API. */
class BranchSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def frame(n: Int, from: Int = 1): DataFrame = {
    import s.implicits._
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("k", "v")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("branch → write (object API and SQL) → fast-forward publishes; " +
       "fork isolation holds both ways until publish") {
    val t = tmpDir("br")
    SnapshotLake.commit(frame(10), t)
    val fork = SnapshotLake.branch(s, t, "audit")
    assert(fork == SnapshotLake.latest(s, t).get)
    val root = SnapshotLake.branchRoot(t, "audit")
    // the branch reads as the fork point, instantly, zero copy
    assert(rows(SnapshotLake.readBranch(s, t, "audit")) ==
      rows(s.read.format("graftlake").load(t)))
    // write to the branch: object API append + a SQL INSERT at the root
    SnapshotLake.commit(frame(5, 100), root)
    s.sql(s"INSERT INTO graftlake.`$root` VALUES (500, 'sql')")
    // isolation: main unchanged, branch ahead
    assert(s.read.format("graftlake").load(t).count() == 10)
    assert(SnapshotLake.readBranch(s, t, "audit").count() == 16)
    assert(SnapshotLake.branches(s, t) == Map("audit" -> (fork, 3L)))
    // publish
    val pub = SnapshotLake.fastForward(s, t, "audit")
    assert(pub.contains(fork + 1))
    assert(rows(s.read.format("graftlake").load(t)) ==
      rows(SnapshotLake.readBranch(s, t, "audit")))
    assert(s.read.format("graftlake").load(t).count() == 16)
    // pre-publish main history is byte-stable
    assert(SnapshotLake.readAt(s, t, fork).count() == 10)
    // published data survives dropBranch; main still reads it
    assert(SnapshotLake.dropBranch(s, t, "audit"))
    assert(SnapshotLake.branches(s, t).isEmpty)
    assert(s.read.format("graftlake").load(t).count() == 16)
  }

  test("branch and fast-forward copy zero data bytes: the branch root " +
       "holds no data and publishing leaves main's files as they were") {
    val t = tmpDir("br-zero")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.commit(frame(10, 100), t)
    def dataFiles(root: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/data").toPath
      if (!java.nio.file.Files.exists(d)) Map.empty
      else {
        val w = java.nio.file.Files.walk(d)
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
        finally w.close()
      }
    }
    val before = dataFiles(t)
    assert(before.values.sum > 0)
    SnapshotLake.branch(s, t, "zc")
    assert(dataFiles(SnapshotLake.branchRoot(t, "zc")).isEmpty,
      "branching must copy no data")
    assert(SnapshotLake.fastForward(s, t, "zc").isDefined)
    assert(dataFiles(t) == before, "publishing must copy no data")
    assert(rows(s.read.format("graftlake").load(t)) ==
      rows(frame(10).unionAll(frame(10, 100))))
  }

  test("diverged main refuses fast-forward loudly; abandoned branch " +
       "data is reclaimed by dropBranch; duplicate branch refuses") {
    val t = tmpDir("br-div")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "wap")
    val root = SnapshotLake.branchRoot(t, "wap")
    SnapshotLake.commit(frame(5, 100), root)
    intercept[IllegalArgumentException](SnapshotLake.branch(s, t, "wap"))
    // main moves past the fork → publish refuses
    SnapshotLake.commit(frame(3, 200), t)
    intercept[IllegalArgumentException](
      SnapshotLake.fastForward(s, t, "wap"))
    // abandoned: branch-private dirs are reclaimed, main data intact
    val branchDirs = SnapshotLake.manifestDirs(s, root,
      SnapshotLake.latest(s, root).get)
    val privateDirs = branchDirs.filter(_.startsWith(root))
    assert(privateDirs.nonEmpty)
    assert(SnapshotLake.dropBranch(s, t, "wap"))
    privateDirs.foreach(d =>
      assert(!new java.io.File(d).exists(), s"private dir $d must go"))
    assert(s.read.format("graftlake").load(t).count() == 13)
    assert(!SnapshotLake.dropBranch(s, t, "wap"))
  }

  test("main expire retains dirs a live branch references; the branch " +
       "stays readable after main compacts + expires") {
    val t = tmpDir("br-gc")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.commit(frame(10, 50), t)
    SnapshotLake.branch(s, t, "keep")
    val branchRows = rows(SnapshotLake.readBranch(s, t, "keep"))
    // main rewrites everything (compact) then expires to 1 snapshot —
    // without the branch-liveness rule the fork's dirs would be GC'd
    assert(SnapshotLake.compact(s, t).isDefined)
    SnapshotLake.expire(s, t, keepLast = 1)
    assert(rows(SnapshotLake.readBranch(s, t, "keep")) == branchRows,
      "a live branch must survive main compact+expire")
    SnapshotLake.dropBranch(s, t, "keep")
  }

  test("bucket layout rides the branch cycle: branch of a bucketed " +
       "table, bucketed branch append, publish keeps the line and the " +
       "co-located join") {
    val t = tmpDir("br-bkt")
    SnapshotLake.commitBucketed(frame(100), t, Seq("k"), 4)
    SnapshotLake.branch(s, t, "b")
    val root = SnapshotLake.branchRoot(t, "b")
    // plain append to the bucketed branch refuses; bucketed lands
    intercept[IllegalArgumentException](
      SnapshotLake.commit(frame(5, 900), root))
    SnapshotLake.commitBucketed(frame(50, 200), root, Seq("k"), 4)
    assert(SnapshotLake.fastForward(s, t, "b").isDefined)
    assert(SnapshotLake.manifestBucket(s, t,
      SnapshotLake.latest(s, t).get).contains((4, Seq("k"), Seq())),
      "publish must carry the #bucket line")
    assert(s.read.format("graftlake").load(t).count() == 150)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.sql(s"SELECT a.k FROM graftlake.`$t` a " +
        s"JOIN graftlake.`$t` b ON a.k = b.k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hash"),
        s"post-publish self-join must stay co-located:\n$plan")
    } finally s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    SnapshotLake.dropBranch(s, t, "b")
  }

  test("row-level mutations on a branch leave main byte-stable; the " +
       "publish carries the mutated state") {
    import org.apache.spark.sql.functions.lit
    val t = tmpDir("br-mut")
    SnapshotLake.commit(frame(20), t)
    val mainRows = rows(s.read.format("graftlake").load(t))
    SnapshotLake.branch(s, t, "mut")
    val root = SnapshotLake.branchRoot(t, "mut")
    // CoW UPDATE on the branch rewrites a dir MAIN also references —
    // into the BRANCH's data root; the shared dir is never touched
    assert(SnapshotLake.update(s, root, col("k") <= 5L,
      Map("v" -> lit("branched"))).isDefined)
    assert(rows(s.read.format("graftlake").load(t)) == mainRows,
      "main must be byte-stable under a branch mutation")
    val br = SnapshotLake.readBranch(s, t, "mut")
    assert(br.filter(col("v") === "branched").count() == 5)
    assert(SnapshotLake.fastForward(s, t, "mut").isDefined)
    assert(rows(s.read.format("graftlake").load(t)) ==
      rows(br))
    SnapshotLake.dropBranch(s, t, "mut")
    assert(s.read.format("graftlake").load(t)
      .filter(col("v") === "branched").count() == 5,
      "published mutated dirs must survive dropBranch")
  }

  test("expire ON a branch root keeps dirs the PARENT chain references " +
       "(post-publish compact+expire on the branch cannot break main)") {
    val t = tmpDir("br-gc2")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "w")
    val root = SnapshotLake.branchRoot(t, "w")
    SnapshotLake.commit(frame(5, 100), root) // branch-local dir
    assert(SnapshotLake.fastForward(s, t, "w").isDefined)
    val mainRows = rows(s.read.format("graftlake").load(t))
    // the branch moves on: compact rewrites its contents, then expires
    // everything but its own head — the published dir is now orphaned
    // from the BRANCH's chain, but main still references it
    assert(SnapshotLake.compact(s, root).isDefined)
    SnapshotLake.expire(s, root, keepLast = 1)
    assert(rows(s.read.format("graftlake").load(t)) == mainRows,
      "branch-root expire must never delete dirs main references")
    SnapshotLake.dropBranch(s, t, "w")
    assert(rows(s.read.format("graftlake").load(t)) == mainRows)
  }

  test("VERSION AS OF resolves branch names (tags win collisions)") {
    val t = tmpDir("br-vao")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "audit")
    SnapshotLake.commit(frame(5, 100),
      SnapshotLake.branchRoot(t, "audit"))
    val q = s.sql(s"SELECT * FROM graftlake.`$t` VERSION AS OF 'audit'")
    assert(q.count() == 15, "branch name must read the branch head")
    assert(s.read.format("graftlake").load(t).count() == 10)
    // a tag with the same name wins: immutable refs take precedence
    SnapshotLake.tag(s, t, "audit", SnapshotLake.latest(s, t).get)
    assert(s.sql(s"SELECT * FROM graftlake.`$t` VERSION AS OF 'audit'")
      .count() == 10)
    SnapshotLake.dropTag(s, t, "audit")
    SnapshotLake.dropBranch(s, t, "audit")
    intercept[Exception](
      s.sql(s"SELECT * FROM graftlake.`$t` VERSION AS OF 'audit'")
        .collect())
  }

  test("V1 read option branch composes with the branch's own history " +
       "(snapshotId against the branch chain)") {
    val t = tmpDir("br-opt")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "opt")
    SnapshotLake.commit(frame(5, 100), SnapshotLake.branchRoot(t, "opt"))
    assert(s.read.format("graftlake").option("branch", "opt").load(t)
      .count() == 15)
    // snapshotId resolves against the BRANCH history: 1 = the seed
    assert(s.read.format("graftlake").option("branch", "opt")
      .option("snapshotId", "1").load(t).count() == 10)
    intercept[IllegalArgumentException](
      s.read.format("graftlake").option("branch", "nope").load(t))
    SnapshotLake.dropBranch(s, t, "opt")
  }

  test("V1 writes honor the branch option (never silently landing on " +
       "main); unknown branch refuses") {
    val t = tmpDir("br-wopt")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "stage")
    frame(5, 100).write.format("graftlake").option("branch", "stage")
      .mode("append").save(t)
    assert(s.read.format("graftlake").load(t).count() == 10,
      "a branch-targeted write must NOT touch main")
    assert(SnapshotLake.readBranch(s, t, "stage").count() == 15)
    intercept[IllegalArgumentException](
      frame(1).write.format("graftlake").option("branch", "nope")
        .mode("append").save(t))
    assert(SnapshotLake.fastForward(s, t, "stage").isDefined)
    assert(s.read.format("graftlake").load(t).count() == 15)
    SnapshotLake.dropBranch(s, t, "stage")
  }

  test("dropBranch keeps dirs a SIBLING branch references (published " +
       "dir re-referenced by a later fork, main chain moved on)") {
    val t = tmpDir("br-sib")
    SnapshotLake.commit(frame(10), t)
    SnapshotLake.branch(s, t, "a")
    SnapshotLake.commit(frame(5, 100), SnapshotLake.branchRoot(t, "a"))
    assert(SnapshotLake.fastForward(s, t, "a").isDefined)
    // sibling B forks AFTER the publish — its seed references the dir
    // that lives under A's root
    SnapshotLake.branch(s, t, "b")
    val bRows = rows(SnapshotLake.readBranch(s, t, "b"))
    assert(bRows.size == 15)
    // main rewrites + expires so A's published dir leaves MAIN's chain
    assert(SnapshotLake.compact(s, t).isDefined)
    SnapshotLake.expire(s, t, keepLast = 1)
    // dropping A must not take the dir out from under B
    assert(SnapshotLake.dropBranch(s, t, "a"))
    assert(rows(SnapshotLake.readBranch(s, t, "b")) == bRows,
      "dropBranch must keep dirs a live sibling references")
    SnapshotLake.dropBranch(s, t, "b")
  }

  test("CALL branch / fast_forward / drop_branch ≡ the object API") {
    val t = tmpDir("br-call")
    SnapshotLake.commit(frame(8), t)
    val out = s.sql(
      s"CALL graftlake.system.branch('$t', 'rel')").collect()(0)
    assert(out.getLong(0) == SnapshotLake.latest(s, t).get)
    val root = out.getString(1)
    assert(root == SnapshotLake.branchRoot(t, "rel"))
    s.sql(s"INSERT INTO graftlake.`$root` VALUES (99, 'x')")
    val ff = s.sql(
      s"CALL graftlake.system.fast_forward('$t', 'rel')").collect()(0)
    assert(ff.getLong(0) == SnapshotLake.latest(s, t).get)
    assert(s.read.format("graftlake").load(t).count() == 9)
    assert(s.sql(s"CALL graftlake.system.drop_branch('$t', 'rel')")
      .collect()(0).getBoolean(0))
    assert(SnapshotLake.branches(s, t).isEmpty)
  }
}
