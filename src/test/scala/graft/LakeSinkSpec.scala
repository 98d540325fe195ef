package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LakeSinkSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // ---- SnapshotLake: manifest-commit protocol (r10 verdict item 3) ----

  test("snapshot commit is atomic: a crashed half-write is invisible to every read path") {
    import s.implicits._
    val table = tmpDir("snap-atomic")
    val id1 = SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    assert(id1 == 1L)
    // simulate a writer that crashed between data-write and manifest
    // rename: data files exist under data/, no manifest appeared
    SnapshotLake.writeData(Seq((99L, "torn")).toDF("k", "v"), table, 1000000L)
    assert(SnapshotLake.latest(s, table).contains(1L))
    assert(SnapshotLake.readLatest(s, table).count() == 2L)
    assert(SnapshotLake.readAt(s, table, 1L)
      .as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("time-travel read of snapshot N-1 is byte-stable while N lands; ids are monotonic") {
    import s.implicits._
    val table = tmpDir("snap-travel")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    val before = SnapshotLake.readAt(s, table, 1L)
      .as[(Long, String)].collect().sorted.toSeq
    // N lands (append) while the N-1 handle stays open
    val id2 = SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), table,
      append = true)
    assert(id2 == 2L)
    assert(SnapshotLake.readAt(s, table, 1L)
      .as[(Long, String)].collect().sorted.toSeq == before)
    assert(SnapshotLake.readAt(s, table, 2L).count() == 2L)
    // atomic full-replace: N+1 overwrite shows ONLY the new data — and
    // N-1/N stay readable
    val id3 = SnapshotLake.commit(Seq((9L, "z")).toDF("k", "v"), table,
      append = false)
    assert(id3 == 3L)
    assert(SnapshotLake.readAt(s, table, 3L)
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    assert(SnapshotLake.readAt(s, table, 1L)
      .as[(Long, String)].collect().sorted.toSeq == before)
    assert(SnapshotLake.snapshots(s, table) == Seq(1L, 2L, 3L))
  }

  test("losing the id CAS race retries onto the next id instead of clobbering") {
    import s.implicits._
    val table = tmpDir("snap-race")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    // occupy id 2 out from under the next committer (the "concurrent
    // winner" whose rename landed first)
    assert(SnapshotLake.tryCommitManifest(s, table, 2L, Seq.empty))
    // the loser's view: same id now refuses — no clobber, no exception
    assert(!SnapshotLake.tryCommitManifest(s, table, 2L, Seq("some/dir")))
    val id = SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table)
    assert(id == 3L, s"committer should have allocated past the taken id, got $id")
    // the squatter's empty snapshot 2 is intact; 3 appended onto it
    assert(SnapshotLake.readAt(s, table, 3L)
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("compact bin-packs the table into one new snapshot; history stays readable until expire") {
    import s.implicits._
    val table = tmpDir("snap-compact")
    // three small appends = three data dirs
    (1 to 3).foreach(i =>
      SnapshotLake.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), table))
    val preDirs = new java.io.File(s"$table/data").listFiles().length
    assert(preDirs == 3)
    val cid = SnapshotLake.compact(s, table)
    assert(cid.contains(4L))
    // same rows, one referenced dir; the originals still exist (time
    // travel to snapshot 3 still byte-stable) until expire GCs them
    assert(SnapshotLake.readLatest(s, table)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "v1"), (2L, "v2"), (3L, "v3")))
    assert(SnapshotLake.readAt(s, table, 3L).count() == 3L)
    assert(new java.io.File(s"$table/data").listFiles().length == 4)

    // expire: keep only the compacted snapshot → old manifests AND the
    // three compacted-away dirs are reclaimed, latest is untouched
    SnapshotLake.expire(s, table, keepLast = 1)
    assert(SnapshotLake.snapshots(s, table) == Seq(4L))
    assert(new java.io.File(s"$table/data").listFiles().length == 1)
    assert(SnapshotLake.readLatest(s, table).count() == 3L)
    intercept[IllegalArgumentException](
      SnapshotLake.readAt(s, table, 3L).count())
  }

  test("compact aborts (None) when a concurrent append lands, losing no rows") {
    import s.implicits._
    val table = tmpDir("snap-compact-race")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), table)
    // compaction observed base = 2, but a concurrent appender commits
    // snapshot 3 before the compactor's manifest rename
    val appended = SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table)
    assert(appended == 3L)
    val cid = SnapshotLake.compactFrom(s, table, base = 2L, 1000000L)
    assert(cid.isEmpty, "stale compaction must not clobber a newer commit")
    // nothing lost: snapshot 3 (the appender's) is still latest with all
    // three rows; the aborted rewrite left only an unreferenced dir that
    // expire reclaims
    assert(SnapshotLake.latest(s, table).contains(3L))
    assert(SnapshotLake.readLatest(s, table).count() == 3L)
    SnapshotLake.expire(s, table, keepLast = 3)
    assert(new java.io.File(s"$table/data").listFiles().length == 3)
  }

  test("commitIdempotent: a replayed key is a no-op; a crashed half-write of the key is healed") {
    import s.implicits._
    val table = tmpDir("snap-idem")
    val id1 = SnapshotLake.commitIdempotent(
      Seq((1L, "a")).toDF("k", "v"), table, "batch-0")
    assert(id1.contains(1L))
    // replay of the SAME delivery: recorded no-op, no duplicate rows
    assert(SnapshotLake.commitIdempotent(
      Seq((1L, "a")).toDF("k", "v"), table, "batch-0").isEmpty)
    assert(SnapshotLake.readLatest(s, table).count() == 1L)
    // crash mid-write: data/batch-1 exists but no manifest references it
    // (torn, with DIFFERENT partial content than the retry will carry)
    Seq((99L, "torn")).toDF("k", "v").write.parquet(s"$table/data/batch-1")
    val id2 = SnapshotLake.commitIdempotent(
      Seq((2L, "b"), (3L, "c")).toDF("k", "v"), table, "batch-1")
    assert(id2.contains(2L))
    assert(SnapshotLake.readLatest(s, table)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "retry must replace the torn half-write, not merge with it")
  }

  test("readIncremental returns exactly the rows added between two snapshots") {
    import s.implicits._
    val table = tmpDir("snap-incr")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((4L, "d"), (5L, "e")).toDF("k", "v"), table)
    assert(SnapshotLake.readIncremental(s, table, 1L, 2L)
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    assert(SnapshotLake.readIncremental(s, table, 1L, 3L)
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((3L, "c"), (4L, "d"), (5L, "e")))
    // from == to → empty catch-up, not an error
    assert(SnapshotLake.readIncremental(s, table, 2L, 2L).count() == 0L)
  }

  test("additive schema evolution: old snapshots read new columns as " +
       "NULL; time travel keeps the old shape") {
    import s.implicits._
    val table = tmpDir("snap-evolve")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    // snapshot 2 adds a column — no rewrite of snapshot 1's files
    SnapshotLake.commit(
      Seq((3L, "c", 30)).toDF("k", "v", "score"), table)
    val latest = SnapshotLake.readLatest(s, table)
    assert(latest.columns.sorted.toSeq == Seq("k", "score", "v"),
      "merged schema must union the evolved column in")
    val rows = latest.select(col("k"), col("v"), col("score"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None),
                             (3L, "c", Some(30))),
      "pre-evolution rows must surface the new column as NULL")
    // time travel to snapshot 1 sees the PRE-evolution schema — history
    // is byte-stable, not retro-widened
    assert(SnapshotLake.readAt(s, table, 1L).columns.sorted.toSeq ==
      Seq("k", "v"))
    // the incremental delta carries the evolved shape
    assert(SnapshotLake.readIncremental(s, table, 1L, 2L)
      .columns.sorted.toSeq == Seq("k", "score", "v"))
  }

  test("delete is copy-on-write: untouched dirs survive by identity, " +
       "old snapshots keep the rows, NULL predicates keep their rows") {
    import s.implicits._
    val table = tmpDir("snap-delete")
    // two separate appends -> two data dirs; only the second matches
    SnapshotLake.commit(Seq((1L, Option(10L)), (2L, Option(20L)))
      .toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, Option(99L)), (4L, None), (5L, Option(5L)))
      .toDF("k", "v"), table, append = true)
    val dirsBefore = SnapshotLake.readAt(s, table, 2L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.sorted

    val id = SnapshotLake.delete(s, table, col("v") > 50L)
    assert(id.contains(3L))
    // v=99 gone; v=NULL row KEPT (SQL DELETE semantics: only TRUE goes)
    assert(SnapshotLake.readLatest(s, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L, 5L))
    // time travel still sees the deleted row
    assert(SnapshotLake.readAt(s, table, 2L).count() == 5L)
    // the unaffected first dir is REUSED, not rewritten
    val dirsAfter = SnapshotLake.readAt(s, table, 3L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirsAfter.exists(dirsBefore.contains),
      s"no dir survived by identity:\nbefore=${dirsBefore.toSeq}\nafter=${dirsAfter.toSeq}")
  }

  test("delete with no match is a no-op returning the current snapshot") {
    import s.implicits._
    val table = tmpDir("snap-delete-noop")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    assert(SnapshotLake.delete(s, table, col("k") > 100L).contains(1L))
    assert(SnapshotLake.snapshots(s, table) == Seq(1L))
  }

  test("delete of every row leaves a readable empty table") {
    import s.implicits._
    val table = tmpDir("snap-delete-all")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    assert(SnapshotLake.delete(s, table, lit(true)).contains(2L))
    assert(SnapshotLake.readLatest(s, table).count() == 0L)
    assert(SnapshotLake.readLatest(s, table).columns.toSeq == Seq("k", "v"))
  }

  test("delete loses the CAS race to a concurrent commit and leaves the table intact") {
    import s.implicits._
    val table = tmpDir("snap-delete-race")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    // a commit lands AFTER the delete observed base=1
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), table, append = true)
    assert(SnapshotLake.deleteFrom(s, table, 1L, lit(true), 1000000L).isEmpty)
    assert(SnapshotLake.readLatest(s, table).count() == 2L)
  }

  test("update is copy-on-write: SET hits TRUE rows only, dirs survive, " +
       "NULL predicates pass through, time travel intact") {
    import s.implicits._
    val table = tmpDir("snap-update")
    SnapshotLake.commit(Seq((1L, Option(10L)), (2L, Option(20L)))
      .toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, Option(99L)), (4L, None), (5L, Option(55L)))
      .toDF("k", "v"), table, append = true)
    val dirsBefore = SnapshotLake.readAt(s, table, 2L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.sorted
    val id = SnapshotLake.update(s, table, col("v") > 50L,
      Map("v" -> (col("v") + 1000L)))
    assert(id.contains(3L))
    val now = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    // 99 and 55 updated; 10/20 untouched; the NULL-predicate row KEPT AS IS
    assert(now == Map(1L -> Some(10L), 2L -> Some(20L), 3L -> Some(1099L),
                      4L -> None, 5L -> Some(1055L)))
    // time travel still sees the old values
    assert(SnapshotLake.readAt(s, table, 2L).filter(col("k") === 3L)
      .head.getLong(1) == 99L)
    // the unaffected first dir is REUSED by identity
    val dirsAfter = SnapshotLake.readAt(s, table, 3L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirsAfter.exists(dirsBefore.contains))
    // no-op UPDATE returns the current snapshot without a commit
    assert(SnapshotLake.update(s, table, col("k") > 100L,
      Map("v" -> lit(0L))).contains(3L))
    assert(SnapshotLake.snapshots(s, table) == Seq(1L, 2L, 3L))
    // setting an unknown column is rejected up front
    intercept[IllegalArgumentException] {
      SnapshotLake.update(s, table, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("two LIVE writers race the same base: exactly one CAS wins, " +
       "no rows lost, the loser succeeds on retry") {
    import s.implicits._
    val table = tmpDir("snap-update-race")
    SnapshotLake.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), table)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val tasks = Seq(
      (col("k") === 1L, 111L),
      (col("k") === 2L, 222L)).map { case (p, v) =>
      pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          SnapshotLake.updateFrom(s, table, 1L, p, Map("v" -> lit(v)),
            1000000L)
        }
      })
    }
    start.countDown()
    val results = tasks.map(_.get())
    pool.shutdown()
    assert(results.count(_.contains(2L)) == 1 &&
           results.count(_.isEmpty) == 1,
      s"CAS race must have exactly one winner: $results")
    // the winner's mutation (and ONLY it) is visible; no rows lost
    val vals = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals.keySet == Set(1L, 2L))
    assert(Seq(Map(1L -> 111L, 2L -> 20L), Map(1L -> 10L, 2L -> 222L))
      .contains(vals), s"table shows a torn update: $vals")
    // the loser re-reads the new base and lands cleanly on top
    val loserIdx = results.indexWhere(_.isEmpty)
    val (p, v) = Seq((col("k") === 1L, 111L), (col("k") === 2L, 222L))(loserIdx)
    assert(SnapshotLake.update(s, table, p, Map("v" -> lit(v))).contains(3L))
    assert(SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 111L, 2L -> 222L))
  }

  test("merge replaces matched rows, inserts new ones, reuses unmatched dirs") {
    import s.implicits._
    val table = tmpDir("snap-merge")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), table,
      append = true)
    val dirsBefore = SnapshotLake.readAt(s, table, 2L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct

    // update k=3, insert k=9; dir 1 (k=1,2) has no key hit -> reused
    val id = SnapshotLake.merge(s, table,
      Seq((3L, "C!"), (9L, "i")).toDF("k", "v"), Seq("k"))
    assert(id.contains(3L))
    val now = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == Map(1L -> "a", 2L -> "b", 3L -> "C!", 4L -> "d", 9L -> "i"))
    // old snapshot untouched
    assert(SnapshotLake.readAt(s, table, 2L).filter(col("v") === "c").count() == 1L)
    val dirsAfter = SnapshotLake.readAt(s, table, 3L).inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirsAfter.exists(dirsBefore.contains))
  }

  test("merge with an empty source is a no-op; merge loses CAS races intact") {
    import s.implicits._
    val table = tmpDir("snap-merge-race")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    assert(SnapshotLake.merge(s, table,
      Seq.empty[(Long, String)].toDF("k", "v"), Seq("k")).contains(1L))
    assert(SnapshotLake.snapshots(s, table) == Seq(1L))
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), table, append = true)
    assert(SnapshotLake.mergeFrom(s, table, 1L,
      Seq((1L, "A!")).toDF("k", "v"), Seq("k"), 1000000L).isEmpty)
    assert(SnapshotLake.readLatest(s, table).count() == 2L)
  }

  test("delete and merge on a post-evolution column span pre-evolution " +
       "dirs (probe aligns missing columns to NULL — r12 ADVICE 2)") {
    import s.implicits._
    val table = tmpDir("snap-evolve-delete")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    SnapshotLake.commit(
      Seq((3L, "c", 30), (4L, "d", 99)).toDF("k", "v", "score"),
      table, append = true)
    // predicate on the evolved column: the pre-evolution dir's probe
    // must evaluate it (to NULL, never TRUE), not throw AnalysisException
    assert(SnapshotLake.delete(s, table, col("score") > 50).contains(3L))
    assert(SnapshotLake.readLatest(s, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // IS NULL matches exactly the pre-evolution rows -> the REWRITE read
    // must align the missing column too
    assert(SnapshotLake.delete(s, table, col("score").isNull).contains(4L))
    assert(SnapshotLake.readLatest(s, table).select("k")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))

    // merge keyed on the evolved column probes pre-evolution dirs the
    // same way: no key hit -> dir survives by identity
    val t2 = tmpDir("snap-evolve-merge")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), t2)
    SnapshotLake.commit(Seq((2L, "b", 7)).toDF("k", "v", "score"), t2,
      append = true)
    assert(SnapshotLake.merge(s, t2,
      Seq((9L, "B!", 7)).toDF("k", "v", "score"), Seq("score")).contains(3L))
    assert(SnapshotLake.readLatest(s, t2).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 9L))
  }

  test("addColumn: manifest-recorded ALTER — history byte-stable, " +
       "null-filled reads, appends union, mutations still green") {
    import s.implicits._
    val table = tmpDir("snap-alter-add")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), table)
    val alterId = SnapshotLake.addColumn(s, table, "score", "double")
    assert(alterId == 2L)
    // time travel BEFORE the ALTER: old schema, byte-stable
    assert(SnapshotLake.readAt(s, table, 1L).columns.toSeq == Seq("k", "v"))
    // at the ALTER snapshot: column exists, typed NULL everywhere
    val cur = SnapshotLake.readAt(s, table, alterId)
    assert(cur.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(cur.filter(col("score").isNotNull).isEmpty)
    // duplicate ALTER refuses
    intercept[IllegalArgumentException](
      SnapshotLake.addColumn(s, table, "score", "double"))
    // append rows that CARRY the column: union reads through, old rows
    // stay NULL
    SnapshotLake.commit(Seq((3L, "c", 30.0)).toDF("k", "v", "score"),
      table, append = true)
    val all = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("score")))
      .toMap
    assert(all == Map(1L -> None, 2L -> None, 3L -> Some(30.0)))
    // UPDATE keyed on the ALTERed column rewrites pre-evolution dirs
    assert(SnapshotLake.update(s, table, col("score").isNull,
      Map("score" -> lit(0.0))).isDefined)
    assert(SnapshotLake.readLatest(s, table)
      .filter(col("score").isNull).isEmpty)
    // and the pre-ALTER snapshot is STILL the old schema after all that
    assert(SnapshotLake.readAt(s, table, 1L).columns.toSeq == Seq("k", "v"))
  }

  test("renameColumn: rename-by-mapping across pre/post-rename dirs; " +
       "DELETE/MERGE resolve the new name everywhere") {
    import s.implicits._
    val table = tmpDir("snap-alter-rename")
    SnapshotLake.commit(Seq((1L, 10.0), (2L, 99.0)).toDF("k", "amount"), table)
    val alterId = SnapshotLake.renameColumn(s, table, "amount", "value")
    // history: pre-rename snapshot keeps the OLD name
    assert(SnapshotLake.readAt(s, table, 1L).columns.toSeq ==
      Seq("k", "amount"))
    // evolved read: ONE logical column under the new name, old data mapped
    val cur = SnapshotLake.readAt(s, table, alterId)
    assert(cur.columns.toSeq == Seq("k", "value"))
    assert(cur.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 10.0, 2L -> 99.0))
    // invalid renames refuse
    intercept[IllegalArgumentException](
      SnapshotLake.renameColumn(s, table, "nope", "x"))
    intercept[IllegalArgumentException](
      SnapshotLake.renameColumn(s, table, "k", "value"))
    // post-rename appends carry the new physical name; the mapping
    // coalesces both generations into one column
    SnapshotLake.commit(Seq((3L, 55.0)).toDF("k", "value"), table,
      append = true)
    val all = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(all == Map(1L -> 10.0, 2L -> 99.0, 3L -> 55.0))
    // DELETE on the NEW name hits a pre-rename row (old physical layout)
    assert(SnapshotLake.delete(s, table, col("value") > 90.0).isDefined)
    assert(SnapshotLake.readLatest(s, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // MERGE keyed on k replaces a pre-rename row under the evolved schema
    assert(SnapshotLake.merge(s, table,
      Seq((1L, 11.0)).toDF("k", "value"), Seq("k")).isDefined)
    val merged = SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(merged == Map(1L -> 11.0, 3L -> 55.0))
    // chained rename composes in recorded order
    SnapshotLake.renameColumn(s, table, "value", "price")
    assert(SnapshotLake.readLatest(s, table).columns.toSeq ==
      Seq("k", "price"))
    // the renamed column keeps its place whichever dir's footer the
    // merged read sees first: the pre-rename dir first lists
    // (k, amount, note, value), the post-rename dir (k, value, note, amount)
    val t3 = tmpDir("snap-alter-rename-order")
    SnapshotLake.commit(Seq((1L, 10.0, "a")).toDF("k", "amount", "note"), t3)
    SnapshotLake.renameColumn(s, t3, "amount", "value")
    val id3 = SnapshotLake.commit(Seq((2L, 20.0, "b")).toDF("k", "value",
      "note"), t3, append = true)
    val dirs3 = SnapshotLake.manifestDirs(s, t3, id3)
    val dv3 = SnapshotLake.manifestDirectives(s, t3, id3)
    for (ds <- Seq(dirs3, dirs3.reverse))
      assert(SnapshotLake.applyDirectives(SnapshotLake.readMergedRaw(s, ds),
        dv3).columns.toSeq == Seq("k", "value", "note"))
    assert(SnapshotLake.readLatest(s, t3).columns.toSeq ==
      Seq("k", "value", "note"))
    assert(s.read.format("graftlake").load(t3).schema.fieldNames.toSeq ==
      Seq("k", "value", "note"))
  }

  test("dropColumn: drop-by-mapping — history byte-stable, appends refuse, " +
       "mutations run on the narrowed schema, compact materializes (r18)") {
    import s.implicits._
    val table = tmpDir("snap-alter-drop")
    SnapshotLake.commit(Seq((1L, "a", 10.0), (2L, "b", 99.0))
      .toDF("k", "v", "score"), table)
    val alterId = SnapshotLake.dropColumn(s, table, "score")
    // time travel BEFORE the drop still serves the column byte-stable
    assert(SnapshotLake.readAt(s, table, 1L).columns.toSeq ==
      Seq("k", "v", "score"))
    assert(SnapshotLake.readAt(s, table, 1L).collect().length == 2)
    // evolved read masks it out of every directory
    val cur = SnapshotLake.readAt(s, table, alterId)
    assert(cur.columns.toSeq == Seq("k", "v"))
    // invalid drops refuse
    intercept[IllegalArgumentException](
      SnapshotLake.dropColumn(s, table, "nope"))
    // appends carrying the dropped column refuse loudly
    val ex = intercept[IllegalArgumentException](SnapshotLake.commit(
      Seq((3L, "c", 1.0)).toDF("k", "v", "score"), table, append = true))
    assert(ex.getMessage.contains("dropped column"))
    // ... and so does an idempotent (stream) append
    val exStream = intercept[IllegalArgumentException](
      SnapshotLake.commitIdempotent(
        Seq((3L, "c", 1.0)).toDF("k", "v", "score"), table, "batch-7"))
    assert(exStream.getMessage.contains("dropped column"))
    assert(SnapshotLake.latest(s, table).contains(alterId),
      "a refused append must not commit")
    // the name stays reserved until compact materializes the removal
    intercept[IllegalArgumentException](
      SnapshotLake.addColumn(s, table, "score", "double"))
    intercept[IllegalArgumentException](
      SnapshotLake.renameColumn(s, table, "v", "score"))
    // narrowed-schema appends and mutations work
    SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), table, append = true)
    assert(SnapshotLake.update(s, table, col("k") === 2L,
      Map("v" -> lit("B"))).isDefined)
    assert(SnapshotLake.readLatest(s, table).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // compact materializes: files physically lose the column, directives
    // clear, and the name is reusable again
    val cid = SnapshotLake.compact(s, table).get
    assert(SnapshotLake.manifestDirectives(s, table, cid).isEmpty)
    val raw = s.read.parquet(SnapshotLake.manifestDirs(s, table, cid): _*)
    assert(raw.columns.toSeq == Seq("k", "v"),
      "compact must physically remove the dropped column")
    SnapshotLake.addColumn(s, table, "score", "double")
    assert(SnapshotLake.readLatest(s, table).columns.toSeq ==
      Seq("k", "v", "score"))
    // drop composes with rename in recorded order
    val t2 = tmpDir("snap-alter-drop2")
    SnapshotLake.commit(Seq((1L, 10.0)).toDF("k", "amount"), t2)
    SnapshotLake.renameColumn(s, t2, "amount", "value")
    SnapshotLake.dropColumn(s, t2, "value")
    assert(SnapshotLake.readLatest(s, t2).columns.toSeq == Seq("k"))
    // the only remaining column cannot be dropped
    intercept[IllegalArgumentException](
      SnapshotLake.dropColumn(s, t2, "k"))
  }

  test("compact materializes evolution into files and drops the directives") {
    import s.implicits._
    val table = tmpDir("snap-alter-compact")
    SnapshotLake.commit(Seq((1L, 10.0)).toDF("k", "amount"), table)
    SnapshotLake.renameColumn(s, table, "amount", "value")
    SnapshotLake.addColumn(s, table, "tag", "string")
    val cid = SnapshotLake.compact(s, table).get
    assert(SnapshotLake.manifestDirectives(s, table, cid).isEmpty,
      "compact must materialize (not carry) the recorded evolution")
    val cur = SnapshotLake.readAt(s, table, cid)
    assert(cur.columns.toSeq == Seq("k", "value", "tag"))
    assert(cur.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.isNullAt(2))).toSeq ==
      Seq((1L, 10.0, true)))
  }

  test("compactZOrder: z-laid files carry bounded per-column envelopes " +
       "a stats-consulting reader prunes on") {
    import s.implicits._
    val table = tmpDir("snap-zorder")
    // 4096 uniform-ish (x, y) points — unclustered on arrival
    val df = s.range(0, 4096).select(
      (col("id") % 256).as("x"), ((col("id") * 37) % 256).as("y"),
      col("id").as("pay"))
    SnapshotLake.commit(df, table)
    val zid = SnapshotLake.compactZOrder(s, table, Seq("x", "y"),
      targetFiles = 16)
    assert(zid.contains(2L))
    val cur = SnapshotLake.readLatest(s, table)
    assert(cur.count() == 4096L, "layout pass must not change the rows")
    val files = cur.inputFiles
    assert(files.length >= 8, s"want a multi-file layout, got ${files.length}")
    // per-file (x, y) envelopes: contiguous z-ranges confine BOTH dims
    val envs = files.map { f =>
      val r = s.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val avgArea = envs.map { case (x0, x1, y0, y1) =>
      (x1 - x0 + 1).toDouble * (y1 - y0 + 1)
    }.sum / envs.length
    assert(avgArea <= 256.0 * 256 / 4,
      s"z-layout envelopes too loose: avg area $avgArea of ${256 * 256}")
    // the pruning probe: a reader consulting file stats for a point
    // predicate touches a small fraction of the files
    val hits = envs.count { case (x0, x1, y0, y1) =>
      x0 <= 5 && 5 <= x1 && y0 <= 7 && 7 <= y1
    }
    assert(hits <= math.max(1, files.length / 4),
      s"point probe hits $hits of ${files.length} file envelopes")
    // and Spark's own scan pushes the zCol predicates to parquet
    val plan = cur.filter(col("x") === 5L && col("y") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(x)")
      || plan.contains("EqualTo(x,5)"),
      s"zCol predicate not pushed:\n$plan")
  }

  test("merge schema evolution (r19): a source-only column auto-ALTERs " +
       "in the same commit, old dirs serve typed NULLs, pre-merge time " +
       "travel is byte-stable, type conflicts refuse up front") {
    import s.implicits._
    val t = tmpDir("merge-evolve")
    SnapshotLake.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
    val preMerge = SnapshotLake.readLatest(s, t).collect().toSet
    // source carries a NEW typed column (score) — one commit, directive
    // recorded, no separate ALTER snapshot
    val src = Seq((2L, "B", 0.5), (9L, "i", 0.9)).toDF("k", "v", "score")
    val id = SnapshotLake.merge(s, t, src, Seq("k")).get
    assert(id == 2L, "evolution must ride the merge commit itself")
    assert(SnapshotLake.manifestDirectives(s, t, id)
        .contains("#schema\tadd\tscore\tDOUBLE"),
      SnapshotLake.manifestDirectives(s, t, id).toString)
    val now = SnapshotLake.readLatest(s, t)
    assert(now.columns.toSeq == Seq("k", "v", "score"))
    assert(now.collect().map(_.toSeq).toSet == Set(
      Seq[Any](1L, "a", null), // old dir: typed NULL
      Seq[Any](2L, "B", 0.5), Seq[Any](9L, "i", 0.9)))
    // time travel before the merge: byte-stable (no score column)
    assert(SnapshotLake.readAt(s, t, 1L).collect().toSet == preMerge)
    // a type conflict on a SHARED column refuses loudly before writing
    val before = SnapshotLake.latest(s, t).get
    val bad = Seq((1L, 5, 0.1)).toDF("k", "v", "score") // v: INT vs STRING
    val ex = intercept[IllegalArgumentException](
      SnapshotLake.merge(s, t, bad, Seq("k")))
    assert(ex.getMessage.contains("type conflict") &&
      ex.getMessage.contains("v"))
    assert(SnapshotLake.latest(s, t).get == before,
      "a refused merge must not commit")
    // a dropped name cannot sneak back in through merge evolution
    SnapshotLake.dropColumn(s, t, "score")
    val sneaky = Seq((1L, "a2", 1.0)).toDF("k", "v", "score")
    val ex2 = intercept[IllegalArgumentException](
      SnapshotLake.merge(s, t, sneaky, Seq("k")))
    assert(ex2.getMessage.contains("dropped"))
  }

  test("snapshot tags (r19): immutable named refs, readAtTag, expire " +
       "retains tagged snapshots' manifests AND data") {
    import s.implicits._
    val t = tmpDir("tags")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), t)          // 1
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), t)          // 2
    SnapshotLake.commit(Seq((3L, "c")).toDF("k", "v"), t)          // 3
    SnapshotLake.commit(Seq((4L, "d")).toDF("k", "v"), t)          // 4
    SnapshotLake.tag(s, t, "release-1", 2L)
    assert(SnapshotLake.tags(s, t) == Map("release-1" -> 2L))
    assert(SnapshotLake.readAtTag(s, t, "release-1").collect()
      .map(_.toSeq).toSet == Set(Seq[Any](1L, "a"), Seq[Any](2L, "b")))
    // immutable: re-tagging refuses; unknown ids refuse; bad names refuse
    intercept[IllegalArgumentException](SnapshotLake.tag(s, t,
      "release-1", 3L))
    intercept[IllegalArgumentException](SnapshotLake.tag(s, t, "x", 99L))
    intercept[IllegalArgumentException](SnapshotLake.tag(s, t,
      "7bad name", 3L))
    // expire keeps the tagged snapshot even outside keepLast
    SnapshotLake.expire(s, t, keepLast = 1)
    assert(SnapshotLake.snapshots(s, t) == Seq(2L, 4L),
      "expire must retain the tagged snapshot 2 plus the latest")
    // the tagged snapshot's DATA survived the GC — still readable
    assert(SnapshotLake.readAtTag(s, t, "release-1").collect()
      .map(_.toSeq).toSet == Set(Seq[Any](1L, "a"), Seq[Any](2L, "b")))
    // the V1 reader's tag option ≡ readAtTag
    assert(s.read.format("graftlake").option("tag", "release-1").load(t)
      .collect().map(_.toSeq).toSet ==
      Set(Seq[Any](1L, "a"), Seq[Any](2L, "b")))
    intercept[IllegalArgumentException](s.read.format("graftlake")
      .option("tag", "ghost").load(t))
    // dropping the tag returns it to the retention rule
    assert(SnapshotLake.dropTag(s, t, "release-1"))
    assert(!SnapshotLake.dropTag(s, t, "release-1"))
    SnapshotLake.expire(s, t, keepLast = 1)
    assert(SnapshotLake.snapshots(s, t) == Seq(4L))
    intercept[IllegalArgumentException](
      SnapshotLake.readAtTag(s, t, "release-1"))
  }

  test("audit reports per-column drift between two snapshots, nulls included") {
    import s.implicits._
    val table = tmpDir("snap-audit")
    // snapshot 1: 4 rows, one null v, k fully distinct
    SnapshotLake.commit(Seq(
      (1L, Option("a")), (2L, Option("b")), (3L, None), (4L, Option("a"))
    ).toDF("k", "v"), table)
    // snapshot 2 appends 2 rows: one more null, one duplicate k
    SnapshotLake.commit(Seq(
      (4L, Option.empty[String]), (5L, Option("c"))
    ).toDF("k", "v"), table, append = true)

    val rows = SnapshotLake.audit(s, table, 1L, 2L, Seq("k", "v"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toMap
    //                 rows_a rows_b nulls_a nulls_b d_a d_b d_delta null_rate_delta
    assert(rows("k") == ((4L, 6L, 0L, 0L, 4L, 5L, 1L, 0.0)))
    assert(rows("v") == ((4L, 6L, 1L, 2L, 2L, 3L, 1L,
      math.round((2.0 / 6 - 1.0 / 4) * 10000) / 10000.0)))
  }

  test("audit output shape is identical to the q_snapshot_drift contract key") {
    import s.implicits._
    val table = tmpDir("snap-audit-shape")
    SnapshotLake.commit(Seq((1L, "a")).toDF("k", "v"), table)
    SnapshotLake.commit(Seq((2L, "b")).toDF("k", "v"), table, append = true)
    val auditSchema = SnapshotLake.audit(s, table, 1L, 2L, Seq("k")).schema
    val keySchema = graft.ops.Lakehouse
      .queries("q_snapshot_drift")(s, TestSpark.Sf0001).schema
    assert(auditSchema.fieldNames.toSeq == keySchema.fieldNames.toSeq)
  }
}
