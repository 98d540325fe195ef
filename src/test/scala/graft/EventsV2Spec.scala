package graft

import graft.sources.EventJsonSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DataSource V2 connector (sources/v2/EventsV2.scala): row-parity with
  * the from_json reader, source-level column pruning, reader-evaluated
  * filter pushdown (the Spark-side re-filter disappears), per-file
  * partitioning, and null/corrupt semantics.
  */
class EventsV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Fmt = "graft.sources.v2.EventsV2Provider"
  // the connector's data schema, in its canonical field order
  private val EventsV2SpecCols =
    graft.sources.v2.EventsV2.Schema.fieldNames.toSeq

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-v2").toFile
    d.deleteOnExit()
    EventJsonSource.write(
      Tables.events(spark, TestSpark.Sf0001), d.getAbsolutePath)
    d.getAbsolutePath
  }

  private def v2: DataFrame = spark.read.format(Fmt).load(dir)

  test("v2 read == EventJsonSource.readValid row-for-row") {
    val a = v2.orderBy(col("event_id")).collect().toSeq
    val b = EventJsonSource.readValid(spark, dir)
      .select(v2.columns.map(col): _*)
      .orderBy(col("event_id")).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("column pruning reaches the source (scan reads only the asked field)") {
    val df = v2.select(col("event_type"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadFields: [event_type]"),
      s"source did not prune to event_type:\n$plan")
  }

  test("pushed filter evaluates in the reader and Spark drops its re-filter") {
    val df = v2.filter(col("event_type") === "purchase")
    val n = df.count()
    val expected = EventJsonSource.readValid(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(n == expected && n > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(event_type,purchase)"),
      s"filter not pushed:\n$plan")
    assert(!plan.contains("Filter ("),
      s"fully-pushed filter still re-evaluated by Spark:\n$plan")
  }

  test("range pushdown on value + a filter-only column still prunes the " +
       "projection") {
    val df = v2.filter(col("value") > 50.0).select(col("event_id"))
    val got = df.collect().map(_.getLong(0)).toSet
    val expected = EventJsonSource.readValid(spark, dir)
      .filter(col("value") > 50.0).select(col("event_id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(value,50.0)"),
      s"range filter not pushed:\n$plan")
  }

  test("timestamp range pushdown matches the from_json reader") {
    val cut = "2024-01-03 00:00:00"
    val got = v2.filter(col("ts") >= lit(cut).cast("timestamp")).count()
    val expected = EventJsonSource.readValid(spark, dir)
      .filter(col("ts") >= lit(cut).cast("timestamp")).count()
    assert(got == expected && got > 0)
  }

  test("one input partition per data file") {
    val df = v2
    df.collect()
    val parts = df.rdd.getNumPartitions
    val files = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(parts == files, s"$parts partitions for $files files")
  }

  test("v2 write round-trips through both readers; staging dir is gone") {
    val d = java.nio.file.Files.createTempDirectory("events-v2-w").toFile
    d.deleteOnExit()
    val src = Tables.events(spark, TestSpark.Sf0001)
      .select(EventsV2SpecCols.map(col): _*)
    src.write.format(Fmt).mode("append").save(d.getAbsolutePath)
    val back = spark.read.format(Fmt).load(d.getAbsolutePath)
    assert(back.count() == src.count())
    val a = back.select(EventsV2SpecCols.map(col): _*)
      .orderBy(col("event_id")).collect().toSeq
    val b = src.orderBy(col("event_id")).collect().toSeq
    assert(a == b, "v2 write -> v2 read must be loss-free")
    // the from_json reader parses the same files
    val c = EventJsonSource.readValid(spark, d.getAbsolutePath)
      .select(EventsV2SpecCols.map(col): _*)
      .orderBy(col("event_id")).collect().toSeq
    assert(c == b, "v2-written files must satisfy the from_json contract")
    // the job's staging dir is gone; the shared _temp parent may remain
    // (empty) — deleting it would race a concurrent job's staging writes
    val tmp = new java.io.File(d, "_temp")
    assert(!tmp.exists() || tmp.listFiles().isEmpty,
      "job commit must clear its staging dir")
  }

  test("overwrite truncates only at job commit; append accumulates") {
    val d = java.nio.file.Files.createTempDirectory("events-v2-t").toFile
    d.deleteOnExit()
    val one = Tables.events(spark, TestSpark.Sf0001)
      .select(EventsV2SpecCols.map(col): _*).limit(10)
    one.write.format(Fmt).mode("append").save(d.getAbsolutePath)
    one.write.format(Fmt).mode("append").save(d.getAbsolutePath)
    assert(spark.read.format(Fmt).load(d.getAbsolutePath).count() == 20)
    one.write.format(Fmt).mode("overwrite").save(d.getAbsolutePath)
    assert(spark.read.format(Fmt).load(d.getAbsolutePath).count() == 10,
      "overwrite must replace, not merge")
  }

  test("malformed lines are skipped, not surfaced (quarantine lives in " +
       "EventJsonSource)") {
    val d = java.nio.file.Files.createTempDirectory("events-v2-bad").toFile
    d.deleteOnExit()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.getAbsolutePath, "part-0.json"),
      ("{\"event_id\":1,\"event_type\":\"ok\"}\n" +
       "not json at all\n" +
       "{\"event_id\":3.5,\"event_type\":\"float-id\"}\n" +
       "{\"event_id\":2,\"event_type\":\"ok2\",\"value\":null}\n").getBytes)
    val rows = spark.read.format(Fmt).load(d.getAbsolutePath)
      .orderBy(col("event_id")).collect()
    assert(rows.length == 2,
      "a float token in a LONG column is malformed, like from_json")
    assert(rows(0).getLong(0) == 1L && rows(1).getLong(0) == 2L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("value")),
      "explicit JSON null must surface as SQL NULL")
    // null never satisfies a pushed comparison
    assert(spark.read.format(Fmt).load(d.getAbsolutePath)
      .filter(col("value") > 0.0).count() == 0)
  }

  test("micro-batch stream: new files become increments; restart resumes " +
       "from the offset with no replay") {
    val d = java.nio.file.Files.createTempDirectory("events-v2-s").toFile
    d.deleteOnExit()
    val ckpt = java.nio.file.Files
      .createTempDirectory("events-v2-s-ckpt").toString
    def drop(name: String, ids: Seq[Long], mtime: Long): Unit = {
      // atomic landing (write elsewhere, move in): the source's
      // documented contract — an in-place write could be listed
      // half-written and, file-level-once, never re-read
      val tmp = java.nio.file.Files.createTempFile("ev2-drop", ".json")
      java.nio.file.Files.write(tmp,
        ids.map(i => s"""{"event_id":$i,"event_type":"e"}""")
          .mkString("", "\n", "\n").getBytes)
      assert(tmp.toFile.setLastModified(mtime))
      java.nio.file.Files.move(tmp, new java.io.File(d, name).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val t0 = System.currentTimeMillis()
    drop("a.json", Seq(1L, 2L), t0)
    val got = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val count = new java.util.concurrent.atomic.AtomicLong()
    def start() = spark.readStream.format(Fmt).load(d.getAbsolutePath)
      .select(col("event_id"))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val ids = b.collect().map(_.getLong(0))
        ids.foreach(got.add); count.addAndGet(ids.length)
        ()
      }.start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(got.size == 2 && count.get == 2)
      drop("b.json", Seq(3L, 4L, 5L), t0 + 2000)
      q1.processAllAvailable()
      assert(got.size == 5 && count.get == 5,
        "the new file must arrive as an increment")
    } finally q1.stop()
    // restart from the checkpoint: only the post-kill file may surface
    drop("c.json", Seq(6L), t0 + 4000)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.size == 6, s"missing increment after restart: $got")
      assert(count.get == 6,
        "committed files replayed after restart — offset not honored")
      // a file landing with a STALE mtime (rename-based committers
      // preserve staging times) must still be ingested: membership is
      // by path in the seen-files log, not by timestamp watermark
      drop("d_stale.json", Seq(7L), t0 - 10000)
      q2.processAllAvailable()
      assert(got.contains(7L) && count.get == 7,
        "stale-mtime file lost — the seen-log contract is broken")
    } finally q2.stop()
  }

  test("an OBJECT-valued props field surfaces as its raw JSON text, " +
       "fields after it intact") {
    val d = java.nio.file.Files.createTempDirectory("events-v2-obj").toFile
    d.deleteOnExit()
    // props is an object and deliberately NOT the last key: a naive
    // getText parse would consume the nested keys as top-level fields
    // and null out everything sorting after "props"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.getAbsolutePath, "part-0.json"),
      ("{\"event_id\":7,\"props\":{\"k\":87,\"tags\":[1,2]}," +
       "\"user_id\":5,\"value\":2.5}\n").getBytes)
    val r = spark.read.format(Fmt).load(d.getAbsolutePath).collect().head
    assert(r.getAs[Long]("event_id") == 7L)
    assert(r.getAs[String]("props") == "{\"k\":87,\"tags\":[1,2]}")
    assert(r.getAs[Long]("user_id") == 5L,
      "fields after the object must still parse")
    assert(r.getAs[Double]("value") == 2.5)
  }

  test("corrupt-line detection is projection-invariant (type mismatch in " +
       "an UNPROJECTED column still kills the line)") {
    // ADVICE r11: parseLine used to type-check only projected+filter
    // fields, so df.count() (empty projection) and a pruned select saw
    // MORE rows than a full read of the same directory. Every schema
    // field now validates regardless of projection.
    val d = java.nio.file.Files.createTempDirectory("events-v2-inv").toFile
    d.deleteOnExit()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(d.getAbsolutePath, "part-0.json"),
      ("{\"event_id\":1,\"event_type\":\"ok\",\"value\":1.5}\n" +
       "{\"event_id\":2.5,\"event_type\":\"bad-id\"}\n" +           // float in a long col
       "{\"event_id\":3,\"event_type\":\"bad-ts\",\"ts\":\"nope\"}\n" + // unparseable ts
       "{\"event_id\":4,\"event_type\":\"ok2\"}\n").getBytes)
    val full = spark.read.format(Fmt).load(d.getAbsolutePath)
    assert(full.collect().length == 2, "full read keeps only valid lines")
    // count() plans an EMPTY projection; a pruned select plans one field —
    // both must agree with the full read on which lines are valid
    assert(full.count() == 2,
      "count() admitted lines the full read rejects (projection-variant)")
    val pruned = full.select(col("event_type"))
    assert(pruned.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("ok", "ok2"),
      "pruned projection admitted lines the full read rejects")
    // and pruning still prunes: the plan reads just the asked field
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString
      .contains("ReadFields: [event_type]"))
  }

  test("seen-files log: versioned persist, legacy-checkpoint fallback, " +
       "crash-debris tolerance") {
    import graft.sources.v2.{EventsV2, EventsV2MicroBatchStream,
      EventsV2Offset, EventsV2Partition}
    val data = java.nio.file.Files.createTempDirectory("ev2-log-d").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("ev2-log-c").toFile
    data.deleteOnExit(); ckpt.deleteOnExit()
    def mk() = new EventsV2MicroBatchStream(data.getAbsolutePath,
      EventsV2.Schema, Array.empty, ckpt.getAbsolutePath)
    def served(s: EventsV2MicroBatchStream, a: Long, b: Long): Seq[String] =
      s.planInputPartitions(EventsV2Offset(a), EventsV2Offset(b))
        .map(_.asInstanceOf[EventsV2Partition].file).toSeq
    // a pre-versioning checkpoint has only the unversioned legacy file
    java.nio.file.Files.write(
      new java.io.File(ckpt, "graft-files.log").toPath, "fA\nfB\n".getBytes)
    val s1 = mk()
    assert(served(s1, 0, 2) == Seq("fA", "fB"),
      "legacy unversioned log must still recover")
    // a new file lands → persist writes graft-files.log.3 and retires
    // the legacy copy only AFTER the versioned one is durable
    java.nio.file.Files.write(
      new java.io.File(data, "f1.json").toPath,
      "{\"event_id\":1}\n".getBytes)
    assert(s1.latestOffset().asInstanceOf[EventsV2Offset].index == 3L)
    val names = ckpt.listFiles().map(_.getName).toSet
    assert(names.contains("graft-files.log.3"), s"no versioned log: $names")
    assert(!names.contains("graft-files.log"),
      "legacy copy must retire once a versioned log exists")
    assert(!names.exists(_.endsWith(".tmp")), s"tmp debris left: $names")
    // crash-mid-prune debris: a STALE lower version must lose to the max
    java.nio.file.Files.write(
      new java.io.File(ckpt, "graft-files.log.1").toPath, "zZ\n".getBytes)
    val s2 = mk()
    assert(served(s2, 0, 3).length == 3 && served(s2, 2, 3).head
      .endsWith("f1.json"),
      "load must resolve the HIGHEST version, not debris")
    // growth from the recovered state writes the next version — at no
    // point between persists is the previous version deleted first
    java.nio.file.Files.write(
      new java.io.File(data, "f2.json").toPath,
      "{\"event_id\":2}\n".getBytes)
    assert(s2.latestOffset().asInstanceOf[EventsV2Offset].index == 4L)
    val after = ckpt.listFiles().map(_.getName).toSet
    assert(after.contains("graft-files.log.4") &&
           !after.contains("graft-files.log.3") &&
           !after.contains("graft-files.log.1"),
      s"superseded versions must prune after the new persist: $after")
  }

  test("seen-files log: each persist of one stream prunes the version it " +
       "wrote before") {
    import graft.sources.v2.{EventsV2, EventsV2MicroBatchStream, EventsV2Offset}
    spark // the stream resolves its Hadoop conf through the active session
    val data = java.nio.file.Files.createTempDirectory("ev2-prune-d").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("ev2-prune-c").toFile
    data.deleteOnExit(); ckpt.deleteOnExit()
    val s = new EventsV2MicroBatchStream(data.getAbsolutePath,
      EventsV2.Schema, Array.empty, ckpt.getAbsolutePath)
    def logs() = ckpt.listFiles().map(_.getName)
      .filter(_.startsWith("graft-files.log")).toSet
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(new java.io.File(data, s"f$i.json").toPath,
        s"""{"event_id":$i}\n""".getBytes)
      assert(s.latestOffset().asInstanceOf[EventsV2Offset].index == i.toLong)
      assert(logs() == Set(s"graft-files.log.$i"), s"after persist $i: ${logs()}")
    }
  }
}
