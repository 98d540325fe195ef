package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShim, SQLContext, SaveMode,
  SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider,
  StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graftlake")` — the DataSource V2-era SQL surface of
  * [[SnapshotLake]] (r16, VERDICT r15 item 9): time travel and incremental
  * reads become `spark.read` options (and `CREATE ... USING graftlake`
  * DDL) instead of object-API calls, so the lake is queryable like every
  * other source in the engine.
  *
  * Options:
  *  - `path` (or `.load(<table root>)`) — the SnapshotLake table root;
  *  - `snapshotId` — time travel: read the table exactly as of that
  *    committed snapshot (default: latest). Byte-stable under later
  *    commits, exactly [[SnapshotLake.readAt]];
  *  - `sinceSnapshotId` — incremental: only the data directories added in
  *    `(since, snapshotId]`, exactly [[SnapshotLake.readIncremental]].
  *
  * Architecture — DELEGATION, not a reader (the lakehouse-format shape
  * Delta/Iceberg use on Spark): the manifest resolves to a data-directory
  * list, which backs Spark's own `HadoopFsRelation` + `ParquetFileFormat`
  * through an `InMemoryFileIndex` rooted at EXACTLY the manifest's
  * directories. Everything the built-in parquet source does — vectorized
  * reads, whole-stage codegen, filter pushdown to row-group stats, column
  * pruning, file-split parallelism — applies unchanged, while the
  * manifest (not a directory listing) decides which files exist: orphaned
  * compaction dirs and in-flight writers are invisible, identically to
  * the object API. At 100 TB the planning cost is manifest-sized, and a
  * z-ordered table's file envelopes prune through the same pushed
  * predicates as any parquet scan (GraftLakeProviderSpec probes both).
  *
  * Schema evolution: additive `addColumn` directives apply natively — the
  * scan schema is the directive-applied snapshot schema, and Spark's
  * parquet reader null-fills a requested column absent from a file (the
  * same by-name resolution `mergeSchema` reads rely on), so pre-evolution
  * directories read the new column as typed NULL and post-evolution
  * appends read through. `renameColumn` directives are REFUSED loudly:
  * rename-by-mapping needs the coalesce(new, old) projection of
  * [[SnapshotLake.applyDirectives]], which a bare file relation cannot
  * express — a name-based format needs parquet field ids (the
  * Delta/Iceberg column-mapping technique) to push renames into the scan,
  * and silently dropping pre-rename data would be corruption, not
  * degradation. `readAt` remains the full-fidelity reader for renamed
  * tables.
  *
  * Write path (r16, the read path's completion): the same short name is a
  * batch sink and a streaming sink, both delegating to [[SnapshotLake]]'s
  * one commit path — every `save` is ONE atomic snapshot (readers see
  * old-or-new, never a partial directory) and `overwrite` is the atomic
  * full-replace that plain parquet `mode("overwrite")` cannot give:
  *  - `df.write.format("graftlake").mode(m).save(table)` — `append` →
  *    [[SnapshotLake.commit]](append = true); `overwrite` → full-replace
  *    commit; `errorifexists` / `ignore` key off an existing COMMITTED
  *    snapshot (an orphaned data dir from a crashed writer does not
  *    count — manifests are the source of truth);
  *  - `ds.writeStream.format("graftlake").option("checkpointLocation",
  *    cp).start(table)` — each micro-batch commits through
  *    [[SnapshotLake.commitIdempotent]] keyed on the batchId: exactly
  *    once (a restart's replayed batch is a recorded no-op, a crashed
  *    half-write is healed and rewritten). Append output mode
  *    only — Complete/Update re-emit updated result rows, which an
  *    append-only snapshot history would duplicate, so they are refused
  *    at start.
  *  - option `maxRecordsPerFile` bounds written file sizes (default 1M).
  */
class GraftLakeProvider extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graftlake"

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val table0 = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlake needs a table root: .load(<table>) or option(\"path\", ...)"))
    // branch option (r19): read a BRANCH head — the branch root is an
    // ordinary table root, so every other option (snapshotId against
    // the branch's own history, tag, statsPruning, ...) composes
    val table = parameters.get("branch").map(_.trim) match {
      case Some(b) =>
        val root = SnapshotLake.branchRoot(table0, b)
        require(SnapshotLake.latest(spark, root).isDefined,
          s"no branch '$b' at $table0 — known: " +
          SnapshotLake.branches(spark, table0).keys.toSeq.sorted
            .mkString(", "))
        root
      case None => table0
    }
    val latest = SnapshotLake.requireLatest(spark, table)
    // tag option (r19): read at a named snapshot tag — ≡ snapshotId at
    // the tagged id (SnapshotLake.tag / VERSION AS OF 'name' parity)
    val snap = parameters.get("snapshotId").map(_.trim.toLong)
      .orElse(parameters.get("tag").map(n =>
        SnapshotLake.tags(spark, table).getOrElse(n.trim,
          throw new IllegalArgumentException(
            s"no tag '${n.trim}' at $table — known: " +
            SnapshotLake.tags(spark, table).keys.toSeq.sorted
              .mkString(", ")))))
      .getOrElse(latest)
    val directives = SnapshotLake.manifestDirectives(spark, table, snap)
    val renames = directives.filter(_.split("\t")(1) == "rename")
    val (dirs, schema0) = parameters.get("sinceSnapshotId")
        .map(_.trim.toLong) match {
      case None =>
        // directive-applied schema: adds surface as typed NULLs wherever
        // no file carries them (parquet by-name resolution)
        (SnapshotLake.manifestDirs(spark, table, snap),
         SnapshotLake.readAt(spark, table, snap).schema)
      case Some(since) =>
        require(since <= snap, s"sinceSnapshotId $since > snapshotId $snap")
        val delta = SnapshotLake.manifestDirs(spark, table, snap)
          .diff(SnapshotLake.manifestDirs(spark, table, since))
        // mirror readIncremental: raw merged schema of the NEW dirs only
        // (no directives — the delta is change-feed grain, not the table)
        (delta,
         if (delta.isEmpty) StructType(Nil)
         else SnapshotLake.readMergedRaw(spark, delta).schema)
    }
    // Rename-evolved snapshots scan by COLUMN MAPPING (r17, lifting the
    // r16 refusal): the requested schema carries the origin-hash parquet
    // field ids ([[SnapshotLake.withFieldIds]]), so Spark's field-id
    // matching resolves a pre-rename file's old physical name to the new
    // logical column. Needs the session's field-id read switch and every
    // visible dir written with ids (compact rewrites legacy dirs and
    // lifts the refusal); readAt stays the always-works fallback.
    if (renames.nonEmpty &&
        SnapshotLake.renameReusesName(directives, schema0.fieldNames)) {
      // swapped/recycled rename chain (r18): field ids resolve the READ
      // correctly, but parquet predicate pushdown binds by NAME inside
      // each file and would row-group-prune against the wrong physical
      // column — silent row loss. Serve the aligned readAt plan instead:
      // unpushed (Spark evaluates every filter post-scan) and exact;
      // compact materializes the chain and restores the native path.
      require(parameters.get("sinceSnapshotId").isEmpty,
        "graftlake incremental reads of a rename-evolved snapshot are " +
        "raw-physical-grain; use SnapshotLake.readIncremental")
      val outer = sqlContext
      return new BaseRelation with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = outer
        override def schema: StructType = schema0
        override def buildScan(): org.apache.spark.rdd.RDD[
            org.apache.spark.sql.Row] =
          SnapshotLake.readAt(spark, table, snap).rdd
      }
    }
    val schema =
      if (renames.isEmpty) schema0
      else {
        require(parameters.get("sinceSnapshotId").isEmpty,
          "graftlake incremental reads of a rename-evolved snapshot are " +
          "raw-physical-grain; use SnapshotLake.readIncremental")
        require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled",
            "false").toBoolean,
          "graftlake scans rename-evolved tables by parquet field id — " +
          "set spark.sql.parquet.fieldId.read.enabled=true (or use " +
          "SnapshotLake.readAt)")
        require(SnapshotLake.dirsCarryFieldIds(spark, dirs),
          s"a directory of $table predates field-id writes (r17) — run " +
          "SnapshotLake.compact to rewrite it with ids, or read via " +
          "SnapshotLake.readAt")
        SnapshotLake.withFieldIds(schema0, directives)
      }
    // manifest-stats planning (r17): pushed predicates disqualify whole
    // dirs before any footer read; option statsPruning=false opts out
    val stats =
      if (parameters.get("statsPruning").exists(_.trim == "false"))
        Map.empty[String, Map[String, ColStats]]
      else StatsPrune.parse(SnapshotLake.manifestStats(spark, table, snap))
    val index =
      if (stats.isEmpty)
        new InMemoryFileIndex(spark, dirs.map(new Path(_)),
          Map.empty[String, String], Some(schema))
      else new StatsPrunedFileIndex(spark, dirs, schema, stats)
    // bucket layout (r18): a #bucket manifest line means EVERY visible
    // dir was written by commitBucketed (bucket-id-routed rows, _%05d
    // file tags — the line is dropped by any other committer), so the
    // relation declares the BucketSpec and Spark plans joins/aggs on the
    // bucket columns WITHOUT an exchange. Declared only for plain reads
    // of an unevolved snapshot (directives can rename the bucket columns
    // out from under the recorded names; incremental deltas are
    // partial-table grain).
    val bucketSpec =
      if (directives.nonEmpty || parameters.contains("sinceSnapshotId"))
        None
      else SnapshotLake.manifestBucket(spark, table, snap).map {
        case (n, cols, sortCols) =>
          org.apache.spark.sql.catalyst.catalog.BucketSpec(n, cols,
            sortCols)
      }
    HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat,
      options = Map.empty[String, String])(spark)
  }

  private def maxRecs(parameters: Map[String, String]): Long =
    parameters.get("maxRecordsPerFile").map(_.trim.toLong)
      .getOrElse(1000000L)

  /** Resolve the `branch` option for a WRITE target (r19): writes land
    * on the branch root — the write-audit half of WAP. Requiring the
    * branch to exist keeps a typo'd name from silently creating a new
    * root; silently IGNORING the option would be worse (un-audited
    * data published straight to main). */
  private def writeTarget(spark: org.apache.spark.sql.SparkSession,
                          parameters: Map[String, String],
                          verb: String): String = {
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        s"graftlake needs a table root: .$verb(<table>) or " +
        "option(\"path\", ...)"))
    parameters.get("branch").map(_.trim) match {
      case Some(b) =>
        val root = SnapshotLake.branchRoot(table, b)
        require(SnapshotLake.latest(spark, root).isDefined,
          s"no branch '$b' at $table — known: " +
          SnapshotLake.branches(spark, table).keys.toSeq.sorted
            .mkString(", ") + " (SnapshotLake.branch creates one)")
        root
      case None => table
    }
  }

  /** Batch write: `df.write.format("graftlake").mode(m).save(table)`. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = writeTarget(spark, parameters, "save")
    val exists = SnapshotLake.latest(spark, table).isDefined
    mode match {
      case SaveMode.Append =>
        SnapshotLake.commit(data, table, append = true, maxRecs(parameters))
      case SaveMode.Overwrite =>
        // atomic full replace: old snapshots stay time-travelable
        SnapshotLake.commit(data, table, append = false, maxRecs(parameters))
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graftlake table at $table already has committed snapshots " +
          "(mode errorifexists)")
      case SaveMode.Ignore if exists => // recorded no-op
      case _ => // ErrorIfExists/Ignore on an empty table root: first commit
        SnapshotLake.commit(data, table, append = true, maxRecs(parameters))
    }
    // The returned relation only carries the written schema (CTAS reads
    // it for the catalog entry). Deliberately NOT the read relation: a
    // legitimate append to a rename-evolved table would otherwise throw
    // AFTER its commit landed, from the reader's rename refusal.
    new BaseRelation {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = data.schema
    }
  }

  /** Streaming sink: exactly-once micro-batch commits keyed on batchId.
    * Structured Streaming re-delivers an uncommitted micro-batch after a
    * restart with the SAME batchId (offset-log contract), and that id is
    * the [[SnapshotLake.commitIdempotent]] dedupKey: a crash between data
    * write and manifest rename leaves an unreferenced dir the replay
    * rewrites, a crash after the rename makes the replay a recorded
    * no-op. Each micro-batch becomes one atomic snapshot, so downstream
    * consumers can tail the table with [[SnapshotLake.readIncremental]]. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val table = writeTarget(sqlContext.sparkSession, parameters, "start")
    require(outputMode == OutputMode.Append(),
      s"graftlake is an append-only snapshot history; output mode " +
      s"$outputMode would re-emit updated rows as duplicates — use " +
      "append mode (aggregate with a watermark so results finalize)")
    require(partitionColumns.isEmpty,
      "graftlake does not lay data out by partition columns; " +
      "use compactZOrder for layout")
    val bound = maxRecs(parameters)
    new Sink {
      override def addBatch(batchId: Long,
                            data: org.apache.spark.sql.DataFrame): Unit = {
        // re-materialize over the already-planned physical RDD — the
        // incoming frame is a streaming micro-batch a fresh batch query
        // could not re-plan (and must not re-read)
        SnapshotLake.commitIdempotent(GraftShim.rematerialize(data), table,
          s"batch-$batchId", bound)
        ()
      }
      override def name(): String = s"graftlake[$table]"
    }
  }

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graftlake needs a table root: .load(<table>) or option(\"path\", ...)"))

  /** Streaming-source schema: fixed at query start to the latest
    * snapshot's directive-applied schema (the FileStreamSource
    * discipline — a mid-stream ALTER does not reshape a running query;
    * restart to pick it up). Rename-evolved tables refuse, same as the
    * batch relation. */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val spark = sqlContext.sparkSession
    val table = tableOf(parameters)
    val s = schema.getOrElse {
      val latest = SnapshotLake.latest(spark, table).getOrElse(
        throw new IllegalArgumentException(
          s"no committed snapshot at $table to infer a stream schema " +
          "from — commit one first or pass .schema(...)"))
      val renames = SnapshotLake.manifestDirectives(spark, table, latest)
        .filter(_.split("\t")(1) == "rename")
      require(renames.isEmpty,
        "graftlake streams cannot tail a rename-evolved table " +
        s"(directives: ${renames.mkString("; ")}) — the delta dirs are " +
        "raw physical names; use SnapshotLake.readAt for renamed tables")
      val base0 = SnapshotLake.readAt(spark, table, latest).schema
      // feedColumns (r18): prune the SOURCE schema — the per-batch
      // frames project to it BEFORE the physical-RDD wrap, so the
      // pruning lands inside the batch plan and reaches the parquet
      // scan (a consumer-side select on the wrapped stream cannot:
      // the wrap is an opaque LogicalRDD)
      val base = parameters.get("feedColumns").map(_.trim) match {
        case None | Some("") => base0
        case Some(csv) =>
          val want = csv.split(",").map(_.trim).filter(_.nonEmpty)
          val missing = want.filterNot(base0.fieldNames.contains)
          require(missing.isEmpty,
            s"feedColumns name columns $table does not have: " +
            s"${missing.mkString(", ")}")
          StructType(base0.fields.filter(f => want.contains(f.name)))
      }
      if (parameters.get("changeFeed").exists(_.trim == "true"))
        StructType(base.fields.toSeq :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType, nullable = false) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))
      else base
    }
    (shortName(), s)
  }

  /** `spark.readStream.format("graftlake").load(table)` — tail the
    * snapshot history as a micro-batch stream: offset = committed
    * snapshot id (dense, CAS-allocated), each micro-batch = the data
    * directories added in `(lastOffset, newOffset]`, exactly the
    * [[SnapshotLake.readIncremental]] delta. Options:
    *  - `startingSnapshotId` (default 0): tail AFTER this snapshot —
    *    0 replays the whole table as the first batch (a backfill),
    *    `latest-at-start` skips history;
    *  - `maxSnapshotsPerTrigger`: rate limit — a restart facing a deep
    *    backlog catches up over several bounded micro-batches instead
    *    of one giant one (each capped batch is still a committed-
    *    snapshot boundary, so a mid-catchup crash resumes cleanly).
    * Append-only histories only: a full-replace / compact / DELETE in
    * the tailed range rewrites old rows into new dirs, which a dir-diff
    * would re-emit as inserts — the source FAILS LOUDLY when it sees
    * dirs disappear rather than emit duplicates (the readIncremental
    * caveat, enforced). An [[SnapshotLake.expire]]d start offset also
    * fails loudly (manifest gone), like a Kafka out-of-range offset. */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val table = tableOf(parameters)
    val resolved = sourceSchema(sqlContext, schema, providerName,
      parameters)._2
    // `latest-at-start` resolves ONCE, at source construction (r16 advisor
    // item: it was documented but fell through to toLong and crashed) —
    // the offset it pins is what "skip history" means for this query.
    val start0 = parameters.get("startingSnapshotId").map(_.trim) match {
      case Some("latest-at-start") =>
        SnapshotLake.latest(spark, table).getOrElse(0L)
      case Some(s) => s.toLong
      case None => 0L
    }
    val maxPerTrigger = parameters.get("maxSnapshotsPerTrigger")
      .map(_.trim.toLong)
    maxPerTrigger.foreach(m => require(m >= 1,
      s"maxSnapshotsPerTrigger must be >= 1, got $m"))
    val changeFeed = parameters.get("changeFeed").exists(_.trim == "true")
    new GraftLakeSource(spark, table, resolved, start0, maxPerTrigger,
      changeFeed)
  }
}

/** The V1 micro-batch source behind `readStream.format("graftlake")` —
  * see [[GraftLakeProvider.createSource]] for the contract. */
private[graft] class GraftLakeSource(spark: SparkSession, table: String,
                                     override val schema: StructType,
                                     start0: Long,
                                     maxPerTrigger: Option[Long],
                                     changeFeed: Boolean = false)
    extends Source {

  // the highest offset this source has HANDED OUT (not necessarily
  // processed) — rate limiting advances from here; recovered from the
  // checkpoint via getBatch's start on restart
  private var lastEnd: Long = start0

  private def offId(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.trim.toLong // SerializedOffset after restart
  }

  override def getOffset: Option[Offset] = {
    val latest = SnapshotLake.latest(spark, table).getOrElse(return None)
    if (latest <= lastEnd) return Some(LongOffset(lastEnd))
    // snapshot ids are dense (CAS allocates base+1), so a cap is itself
    // a committed snapshot boundary
    val end = maxPerTrigger.map(m => math.min(latest, lastEnd + m))
      .getOrElse(latest)
    lastEnd = end
    Some(LongOffset(end))
  }

  /** Align a raw dir read to `to`: absent columns (delta dirs predating
    * an addColumn's first carrying write) read as typed NULL, extra
    * columns (a mid-stream ALTER) drop until restart. */
  private def alignTo(raw: DataFrame, to: StructType): DataFrame =
    raw.select(to.fields.map { f =>
      if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val fromId = start.map(offId).getOrElse(start0)
    val endId = offId(end)
    lastEnd = math.max(lastEnd, endId) // restart: resume pacing from here
    if (endId <= fromId) return GraftShim.emptyStreamingDF(spark, schema)
    if (changeFeed) return changeBatch(fromId, endId)
    val fromDirs =
      if (fromId == 0L) Seq.empty[String]
      else SnapshotLake.manifestDirs(spark, table, fromId)
    val endDirs = SnapshotLake.manifestDirs(spark, table, endId)
    val removed = fromDirs.diff(endDirs)
    require(removed.isEmpty,
      s"graftlake stream over $table saw data dirs disappear between " +
      s"snapshots $fromId and $endId (${removed.mkString(", ")}) — a " +
      "full-replace/compact/DELETE landed in the tailed range; this " +
      "source tails APPEND-ONLY histories (re-emitting rewritten rows " +
      "would duplicate them downstream); tail mutations with " +
      "option(\"changeFeed\", \"true\")")
    val newDirs = endDirs.diff(fromDirs)
    if (newDirs.isEmpty) return GraftShim.emptyStreamingDF(spark, schema)
    val raw = SnapshotLake.readMergedRaw(spark, newDirs)
    GraftShim.asStreamingDF(alignTo(raw, schema))
  }

  /** The change feed (r17, VERDICT r16 item 6 — the Delta-CDF idea at
    * directory grain): each snapshot step `id` in `(fromId, endId]`
    * contributes its manifest dir-diff as tagged rows — dirs REMOVED at
    * `id` emit their rows as `_change_type = 'delete'`, dirs ADDED emit
    * `'insert'`, both stamped `_commit_version = id` so a consumer can
    * apply steps IN ORDER (a key updated twice inside one batch stays
    * correct). CoW consequences, documented: an UPDATE/MERGE surfaces as
    * delete+insert pairs at dir grain (carried-over rows of a rewritten
    * dir appear in both — they net to zero for any keyed apply), and a
    * compaction emits full delete+insert pairs of the compacted mass
    * (value-neutral; a keyed consumer converges, it just does wasted
    * work — schedule compaction and CDC consumption apart). Removed
    * dirs stay readable until [[SnapshotLake.expire]]; an expired step
    * fails loudly like any out-of-range offset. */
  private def changeBatch(fromId: Long, endId: Long): DataFrame = {
    val dataSchema = StructType(schema.fields.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version"))
    val frames = ((fromId + 1) to endId).flatMap { id =>
      val prev =
        if (id <= 1L) Seq.empty[String]
        else SnapshotLake.manifestDirs(spark, table, id - 1)
      val cur = SnapshotLake.manifestDirs(spark, table, id)
      Seq("insert" -> cur.diff(prev), "delete" -> prev.diff(cur)).collect {
        case (tpe, dirs) if dirs.nonEmpty =>
          alignTo(SnapshotLake.readMergedRaw(spark, dirs), dataSchema)
            .withColumn("_change_type", lit(tpe))
            .withColumn("_commit_version", lit(id))
      }
    }
    if (frames.isEmpty) GraftShim.emptyStreamingDF(spark, schema)
    else GraftShim.asStreamingDF(alignTo(frames.reduce(_ unionAll _), schema))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftLakeSource[$table]"
}
