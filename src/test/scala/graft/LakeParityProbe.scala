package graft

import graft.sources.SnapshotLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import scala.util.Try

/** Manifest-parity probe for lake changes: one scripted writer sequence
  * over every SnapshotLake commit path (object API, SQL catalog, stream
  * batches, a bucketed table, a branch), then a dump of every manifest
  * (data-dir UUIDs normalized, lines sorted), the `readAt` rows at every
  * snapshot and each step's result. Run it in two checkouts with the same
  * lake root and diff the outputs:
  * `Test/runMain graft.LakeParityProbe <empty lake root> <out dir>`. */
object LakeParityProbe {
  def main(args: Array[String]): Unit = {
    val root = args(0); val out = args(1)
    val s = TestSpark.spark
    import s.implicits._
    val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    def norm(x: String) = x.replaceAll(Uuid, "<uuid>")
    // columns by name: a merged read's column order follows the order of
    // the manifest's (UUID-named) dirs, which differs run to run
    def rowsOf(df: DataFrame) = {
      val cols = df.columns.sorted
      cols.mkString(",") + ": " + df.select(cols.map(col): _*).collect()
        .map(_.toSeq.mkString("|")).sorted.mkString("; ")
    }
    def step(name: String)(f: => Any): Unit = {
      val r = Try(f).map {
        case df: DataFrame => rowsOf(df)
        case x => String.valueOf(x)
      }.recover { case e => "FAIL " + e.getClass.getSimpleName + ": " +
        norm(String.valueOf(e.getMessage)).take(160) }.get
      log += s"$name -> $r"
    }
    // one micro-batch through writeStream.format("graftlake"): `df` lands
    // as new files in the table's stream source dir, and the query,
    // restarted on the table's checkpoint, reads only those files as its
    // next batch id
    def streamBatch(table: String, df: DataFrame): Unit = {
      df.write.mode("append").parquet(s"$table-stream/src")
      s.readStream.schema(df.schema).parquet(s"$table-stream/src")
        .writeStream.format("graftlake")
        .option("checkpointLocation", s"$table-stream/cp")
        .trigger(Trigger.AvailableNow()).start(table)
        .awaitTermination()
    }
    val t = s"$root/t"
    step("commit1")(SnapshotLake.commit(Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "c", 3.0)).toDF("k", "v", "score"), t))
    step("commit2")(SnapshotLake.commit(Seq((4L, "d", 4.0), (5L, "e", 5.0))
      .toDF("k", "v", "score"), t))
    step("replace")(SnapshotLake.commit(Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "c", 3.0), (4L, "d", 4.0)).toDF("k", "v", "score"), t,
      append = false))
    step("commit3")(SnapshotLake.commit(Seq((6L, "f", 6.0))
      .toDF("k", "v", "score"), t))
    step("stream0")(streamBatch(t,
      Seq((7L, "g", 7.0)).toDF("k", "v", "score")))
    step("stream0 replay")(SnapshotLake.commitIdempotent(
      Seq((7L, "g", 7.0)).toDF("k", "v", "score"), t, "batch-0"))
    step("addColumn")(SnapshotLake.addColumn(s, t, "note", "string"))
    step("commit4")(SnapshotLake.commit(Seq((8L, "h", 8.0, "n8"))
      .toDF("k", "v", "score", "note"), t))
    step("renameColumn")(SnapshotLake.renameColumn(s, t, "v", "label"))
    step("native after rename")(s.read.format("graftlake").load(t))
    step("commit5")(SnapshotLake.commit(Seq((9L, "i", 9.0, "n9"))
      .toDF("k", "label", "score", "note"), t))
    step("delete")(SnapshotLake.delete(s, t, col("k") === 2L))
    step("update")(SnapshotLake.update(s, t, col("k") >= 8L,
      Map("note" -> lit("upd"))))
    step("merge")(SnapshotLake.merge(s, t, Seq((3L, "C", 33.0, "m"),
      (10L, "j", 10.0, "m")).toDF("k", "label", "score", "note"), Seq("k")))
    step("dropColumn")(SnapshotLake.dropColumn(s, t, "score"))
    step("append dropped")(SnapshotLake.commit(Seq((20L, "x", 1.0, "n"))
      .toDF("k", "label", "score", "note"), t))
    step("stream1")(streamBatch(t,
      Seq((11L, "k", "n11")).toDF("k", "label", "note")))
    step("merge evolve")(SnapshotLake.merge(s, t,
      Seq((12L, "l", "n12", 1)).toDF("k", "label", "note", "extra"),
      Seq("k")))
    step("delete none")(SnapshotLake.delete(s, t, col("k") === 999L))
    step("compact")(SnapshotLake.compact(s, t))
    val compacted = SnapshotLake.latest(s, t).get
    step("branch")(SnapshotLake.branch(s, t, "audit"))
    step("branch commit")(SnapshotLake.commit(
      Seq((13L, "m", "n13", 2)).toDF("k", "label", "note", "extra"),
      SnapshotLake.branchRoot(t, "audit")))
    step("fastForward")(SnapshotLake.fastForward(s, t, "audit"))
    step("compactZOrder")(SnapshotLake.compactZOrder(s, t, Seq("k"),
      targetFiles = 2))
    step("rollback")(SnapshotLake.rollback(s, t, compacted))

    // appends carrying a dropped column, on their own table so a refusal
    // does not shift the snapshot ids of the sequence above
    val f = s"$root/f"
    step("f seed")(SnapshotLake.commit(Seq((1L, "a", 1.0))
      .toDF("k", "v", "score"), f))
    step("f dropColumn")(SnapshotLake.dropColumn(s, f, "score"))
    step("f stream dropped")(SnapshotLake.commitIdempotent(
      Seq((2L, "b", 2.0)).toDF("k", "v", "score"), f, "batch-1"))

    // SQL surface
    val q = s"$root/q"
    step("q seed")(SnapshotLake.commit(Seq((1L, "a"), (2L, "b"))
      .toDF("k", "v"), q))
    step("sql insert")(s.sql(s"INSERT INTO graftlake.`$q` VALUES (3L, 'c'), (4L, 'd')"))
    step("sql delete")(s.sql(s"DELETE FROM graftlake.`$q` WHERE k = 1"))
    step("sql delete rowlevel")(s.sql(s"DELETE FROM graftlake.`$q` WHERE k % 2 = 0 AND v = 'b'"))
    step("sql update")(s.sql(s"UPDATE graftlake.`$q` SET v = upper(v) WHERE k >= 3"))
    Seq((3L, "cc"), (9L, "i")).toDF("k", "v").createOrReplaceTempView("pp_src")
    step("sql merge")(s.sql(
      s"""MERGE INTO graftlake.`$q` tgt USING pp_src src
         |ON tgt.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    step("sql overwrite")(s.sql(s"INSERT OVERWRITE graftlake.`$q` VALUES (7L, 'g')"))
    step("sql insert2")(s.sql(s"INSERT INTO graftlake.`$q` VALUES (8L, 'h')"))

    // bucketed table
    val b = s"$root/b"
    def bframe(n: Int, tag: String) = (1 to n).map(i =>
      (i.toLong, s"$tag$i", i * 0.5)).toDF("k", "v", "x")
    step("b bucketed")(SnapshotLake.commitBucketed(bframe(40, "a"), b,
      Seq("k"), 4, Seq("v")))
    step("b bucketed append")(SnapshotLake.commitBucketed(bframe(10, "b"),
      b, Seq("k"), 4, Seq("v")))
    step("b plain append")(SnapshotLake.commit(bframe(3, "z"), b))
    step("b sql insert")(s.sql(s"INSERT INTO graftlake.`$b` VALUES (100L, 'q', 1.5)"))
    step("b stream")(streamBatch(b, bframe(5, "s")))
    step("b delete")(SnapshotLake.delete(s, b, col("k") === 3L))
    step("b update")(SnapshotLake.update(s, b, col("k") === 4L,
      Map("v" -> lit("U"))))
    step("b sql update")(s.sql(s"UPDATE graftlake.`$b` SET x = 0.0 WHERE k = 5"))
    step("b compact")(SnapshotLake.compact(s, b))
    step("b rename")(SnapshotLake.renameColumn(s, b, "x", "y"))
    step("b replace")(SnapshotLake.commitBucketed(
      bframe(6, "r").toDF("k", "v", "y"), b, Seq("k"), 2, append = false))
    step("b native")(s.read.format("graftlake").load(b))

    val sb = new StringBuilder
    val rb = new StringBuilder
    for (tbl <- Seq(t, SnapshotLake.branchRoot(t, "audit"), f, q, b);
         id <- SnapshotLake.snapshots(s, tbl)) {
      val p = new java.io.File(s"$tbl/manifests/snap-$id.manifest")
      val lines = scala.io.Source.fromFile(p, "UTF-8").getLines()
        .map(norm).toSeq.sorted
      sb ++= s"== ${tbl.stripPrefix(root)} $id\n" + lines.mkString("\n") + "\n"
      rb ++= s"== ${tbl.stripPrefix(root)} $id: " +
        Try(rowsOf(SnapshotLake.readAt(s, tbl, id))).getOrElse("FAIL") + "\n"
    }
    new java.io.File(out).mkdirs()
    def put(n: String, c: String) = java.nio.file.Files.write(
      java.nio.file.Paths.get(out, n), c.getBytes("UTF-8"))
    put("manifests.txt", sb.toString)
    put("rows.txt", rb.toString)
    put("steps.txt", log.mkString("\n") + "\n")
    s.stop()
  }
}
