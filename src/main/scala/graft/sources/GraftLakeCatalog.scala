package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException,
  TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn,
  SupportsDeleteV2, SupportsMetadataColumns, SupportsRead,
  SupportsRowLevelOperations, SupportsWrite, Table, TableCapability,
  TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions,
  NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write,
  WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex,
  OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetUtils}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.v2.HadoopConfCarrier

/** DataSource V2 `TableCatalog` for graftlake (r17, VERDICT r16 item 1) —
  * the SQL DML surface the V1 provider shape could not give. Registered as
  *
  * {{{ spark.sql.catalog.graftlake = graft.sources.GraftLakeCatalog }}}
  *
  * it makes every [[SnapshotLake]] table addressable as
  * ``graftlake.`/abs/table/root` `` (or, with the catalog option
  * `warehouse=/lake`, as `graftlake.name` → `/lake/name`), so the first
  * statements a Delta/Iceberg user types work verbatim:
  *
  *  - `SELECT ... FROM graftlake.\`/t\``   — V2 parquet scan planned from
  *    the manifest (same delegation shape as the V1 provider: Spark's own
  *    vectorized reader, pushdown, pruning — the manifest only decides
  *    which files exist);
  *  - `INSERT INTO` / `INSERT OVERWRITE`  — one atomic snapshot commit
  *    per statement through the object API's commit path
  *    ([[SnapshotLake.commitDir]]: a guarded append vs a full replace);
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` — planned by Spark's own
  *    row-level machinery onto the existing CoW mutation protocol. The
  *    table implements BOTH row-level interfaces the planner knows:
  *      1. [[SupportsDeleteV2]]: a DELETE whose predicate fully
  *         translates to V2 filters takes the METADATA path —
  *         [[SnapshotLake.delete]]'s directory-granular CoW (directories
  *         with no matching row survive untouched; the 100 TB shape);
  *      2. [[SupportsRowLevelOperations]] (group-based copy-on-write,
  *         DIRECTORY-granular groups since r18): everything else —
  *         UPDATE, MERGE (all ANSI clause forms, including NOT MATCHED
  *         BY SOURCE, courtesy of Spark's rewrite), and non-translatable
  *         DELETEs. The operation declares the `_dir` metadata column as
  *         a required attribute and its scan implements
  *         `SupportsRuntimeV2Filtering` on it, so Spark's
  *         `RowLevelOperationRuntimeGroupFiltering` plans a matched-row
  *         probe (`SELECT DISTINCT _dir FROM t WHERE <cond>` — normal
  *         read path: pushdown, stats pruning) and runtime-narrows the
  *         rewrite to the matched directories; the write then commits
  *         ONE atomic snapshot replacing EXACTLY the served directories
  *         — untouched directories survive into the new manifest BY
  *         IDENTITY, the [[SnapshotLake.update]]/[[SnapshotLake.merge]]
  *         CoW granularity surfaced through SQL. When the probe can't
  *         narrow (no condition, filtering disabled, a user `_dir` data
  *         column shadowing the metadata column) the scan serves the
  *         full pinned directory list and the commit degrades to the
  *         exact full replace — conservative, never a lost row.
  *  - `CREATE TABLE` / CTAS / `DROP TABLE`, and `ALTER TABLE ... ADD
  *    COLUMN` / `RENAME COLUMN` / `DROP COLUMN` (r18) routed to the
  *    manifest-recorded evolution directives ([[SnapshotLake.addColumn]]/
  *    [[SnapshotLake.renameColumn]]/[[SnapshotLake.dropColumn]]) —
  *    ALTER without data rewrite.
  *
  * Concurrency: every statement pins the latest committed snapshot at
  * table-load time; mutation commits take one [[SnapshotLake.publish]]
  * at exactly `base + 1` and FAIL LOUDLY if any other commit landed in
  * between (GraftLakeCatalogSpec races one) — the object API's mutation
  * discipline, surfaced as a statement error instead of a silent lost
  * update. Pre-mutation snapshots stay time-travel-readable
  * (`snapshotId` read option / [[SnapshotLake.readAt]]).
  *
  * Rename-evolved tables scan natively by column mapping (r17,
  * origin-hash parquet field ids) — except a rename chain that REUSES a
  * live physical name, which refuses loudly here (parquet pushdown
  * binds by name; see [[SnapshotLake.renameReusesName]]) with the
  * compact escape; `readAt` stays the always-works fallback.
  */
class GraftLakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {
  private var catName: String = "graftlake"
  private var warehouse: Option[String] = None

  /** `FunctionCatalog` (r19): serves the `bucket` routing function so
    * Catalyst can resolve the `KeyGroupedPartitioning` a bucket-laid-out
    * table's scan reports — the storage-partitioned-join contract
    * (`V2ExpressionUtils` loads the transform's function by name with an
    * empty namespace from the RELATION's catalog). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      Array(Identifier.of(Array.empty[String], "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace().isEmpty && ident.name() == "bucket")
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** `CALL graftlake.system.<proc>(...)` — the maintenance procedures
    * (r18): compact / expire / zorder and the history, tag, rollback and
    * branch procedures, each ≡ its object-API twin under the same CAS
    * discipline (see [[GraftProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val known = GraftProcedures.names.mkString(", ")
    require(ident.namespace().toSeq == Seq("system"),
      s"graftlake procedures live under the system namespace: " +
      s"CALL $catName.system.<$known>")
    GraftProcedures.load(ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown graftlake procedure '${ident.name()}' — known: $known"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n))
        .toArray
    else Array.empty

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catName

  private def spark: SparkSession = SparkSession.active

  /** `graftlake.\`/abs/path\`` → the path; `graftlake.ns.name` →
    * `<warehouse>/ns/name` when the catalog has a warehouse root. */
  private def pathOf(ident: Identifier): String = {
    val joined = (ident.namespace().toSeq :+ ident.name()).mkString("/")
    if (joined.startsWith("/")) joined
    else warehouse.map(w => s"$w/$joined").getOrElse(
      throw new IllegalArgumentException(
        s"graftlake table '$joined' is not an absolute path and the " +
        "catalog has no warehouse option — address tables as " +
        "graftlake.`/abs/table/root` or set " +
        s"spark.sql.catalog.$catName.warehouse"))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val root = new Path((w +: namespace.toSeq).mkString("/"))
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(root)) Array.empty
        else fs.listStatus(root).collect {
          case st if st.isDirectory &&
              SnapshotLake.latest(spark, st.getPath.toUri.getPath).isDefined =>
            Identifier.of(namespace, st.getPath.getName)
        }
    }

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    SnapshotLake.latest(spark, path) match {
      case Some(snap) => new GraftLakeTable(path, snap)
      case None =>
        // metadata tables (r19): `graftlake.`/t`.snapshots/files/tags/
        // stats` — the trailing segment selects a manifest-computed view
        // over the PARENT table; a real table at the full path wins
        metaTableOf(ident).getOrElse(throw new NoSuchTableException(ident))
    }
  }

  /** Existence means a REAL committed table — NOT a metadata view. The
    * default implementation delegates to loadTable, which would make
    * `tableExists(graftlake.`/t`.snapshots)` true and wrongly refuse a
    * CREATE TABLE at that path (the documented a-real-table-wins
    * precedence, r19 review finding). */
  override def tableExists(ident: Identifier): Boolean =
    SnapshotLake.latest(spark, pathOf(ident)).isDefined

  private def metaTableOf(ident: Identifier)
      : Option[Table] = {
    val view = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (!GraftLakeMetaTables.names(view) || ident.namespace().isEmpty) None
    else {
      val parent = pathOf(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      SnapshotLake.latest(spark, parent).map(snap =>
        GraftLakeMetaTables.table(spark, parent, snap, view))
    }
  }

  /** `SELECT ... FROM graftlake.\`t\` VERSION AS OF <snapshot id>` —
    * SQL time travel onto the pinned-snapshot table (≡ the `snapshotId`
    * read option / [[SnapshotLake.readAt]]). A non-numeric version is a
    * named ref (r19): a TAG (`VERSION AS OF 'release-1'` reads the
    * snapshot the tag pins) or, failing that, a BRANCH name (reads the
    * branch head at its own root — `VERSION AS OF 'audit'`). Tags win
    * a name collision: they are immutable, the branch is reachable at
    * its root. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    val name = version.trim
    scala.util.Try(name.toLong).toOption
      .orElse(SnapshotLake.tags(spark, path).get(name)) match {
      case Some(snap) =>
        if (!SnapshotLake.snapshots(spark, path).contains(snap))
          throw new IllegalArgumentException(
            s"no committed snapshot $snap at $path (expired or never " +
            "committed)")
        new GraftLakeTable(path, snap)
      case None =>
        SnapshotLake.branches(spark, path).get(name) match {
          case Some((_, head)) =>
            new GraftLakeTable(SnapshotLake.branchRoot(path, name), head)
          case None => throw new IllegalArgumentException(
            s"graftlake VERSION AS OF takes a snapshot id, a tag or a " +
            s"branch name, got '$version' — tags: " +
            SnapshotLake.tags(spark, path).keys.toSeq.sorted
              .mkString(", ") + "; branches: " +
            SnapshotLake.branches(spark, path).keys.toSeq.sorted
              .mkString(", "))
        }
    }
  }

  /** `... TIMESTAMP AS OF <ts>` — resolves to the LATEST snapshot whose
    * manifest commit time is at or before the timestamp (micros), the
    * Delta/Iceberg timestamp-travel rule. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = pathOf(ident)
    val millis = timestamp / 1000L
    val at = SnapshotLake.snapshotTimes(spark, path)
      .filter(_._2 <= millis).map(_._1).maxOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot at $path committed at or before " +
          s"${java.time.Instant.ofEpochMilli(millis)}"))
    new GraftLakeTable(path, at)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    // the ONE transform graftlake lays data out by is bucket(n, cols)
    // (r18 — `CLUSTERED BY (cols) INTO n BUCKETS`): the table then
    // carries the #bucket manifest line and every INSERT routes +
    // bucket-tags through RequiresDistributionAndOrdering
    val bucket = partitions.toSeq match {
      case Seq() => None
      // CLUSTERED BY ... SORTED BY ... INTO n BUCKETS (r19, advice):
      // Spark parses that as the sorted_bucket transform — carry the
      // sort columns into the #bucket line (within-bucket sort order)
      case Seq(t) if t.name == "sorted_bucket" &&
          org.apache.spark.sql.GraftShim.parseSortedBucket(t).isDefined =>
        org.apache.spark.sql.GraftShim.parseSortedBucket(t)
      case Seq(t) if t.name == "bucket" =>
        val n = t.arguments.head match {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.toString.toInt
          case other => throw new IllegalArgumentException(
            s"bucket transform needs a literal count, got $other")
        }
        val cols = t.arguments.tail.map {
          case r: NamedReference => r.fieldNames.mkString(".")
          case other => throw new IllegalArgumentException(
            s"bucket transform needs column references, got $other")
        }.toSeq
        Some((n, cols, Seq.empty[String]))
      case other => throw new UnsupportedOperationException(
        s"graftlake lays data out by bucketing only — CLUSTERED BY " +
        s"(cols) [SORTED BY (cols)] INTO n BUCKETS — got " +
        s"${other.mkString(", ")}; use SnapshotLake.compactZOrder for " +
        "other layouts")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val path = pathOf(ident)
    // a schema-bearing empty first snapshot (the delete()-path idiom):
    // CTAS appends the query's rows as snapshot 2
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    bucket match {
      case None =>
        SnapshotLake.commit(empty.repartition(1), path, append = true)
      case Some((n, cols, sortCols)) =>
        SnapshotLake.commitBucketed(empty, path, cols, n, sortCols,
          append = false)
    }
    new GraftLakeTable(path, SnapshotLake.latest(spark, path).get)
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val path = pathOf(ident)
    if (SnapshotLake.latest(spark, path).isEmpty)
      throw new NoSuchTableException(ident)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graftlake ALTER supports only top-level columns")
        SnapshotLake.addColumn(spark, path, add.fieldNames()(0),
          add.dataType().sql)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "graftlake ALTER supports only top-level columns")
        SnapshotLake.renameColumn(spark, path, ren.fieldNames()(0),
          ren.newName())
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "graftlake ALTER supports only top-level columns")
        SnapshotLake.dropColumn(spark, path, del.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"graftlake ALTER does not support $other — the manifest records " +
        "add/rename/drop directives only (no data rewrite)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existed = SnapshotLake.latest(spark, path).isDefined
    if (existed) fs.delete(root, true)
    existed
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graftlake tables are path-addressed; move the directory instead")
}

/** The V2 table behind [[GraftLakeCatalog]]: scans delegate to Spark's
  * own V2 parquet scan over exactly the manifest's directories (pinned at
  * the snapshot this table object was loaded at — one statement, one
  * snapshot), writes and row-level operations commit through the manifest
  * CAS. */
private[graft] class GraftLakeTable(val tableRoot: String,
                                    val snapshotAtLoad: Long)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDeleteV2
    with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = s"graftlake.`$tableRoot`"

  // the directive-applied evolved schema at the pinned snapshot — what
  // readAt serves, so adds surface as typed NULLs. Rename-evolved
  // snapshots carry the origin-hash field ids ON THE TABLE SCHEMA: the
  // relation's attributes (not the ScanBuilder args) are what Spark
  // prunes into the parquet requested schema, so the ids must ride here
  // for field-id matching to resolve pre-rename files.
  override lazy val schema: StructType = {
    val base = SnapshotLake.readAt(spark, tableRoot, snapshotAtLoad).schema
    val directives = SnapshotLake
      .manifestDirectives(spark, tableRoot, snapshotAtLoad)
    if (directives.exists(_.split("\t")(1) == "rename"))
      SnapshotLake.withFieldIds(base, directives)
    else base
  }

  // AUTOMATIC_SCHEMA_EVOLUTION (r19, VERDICT r18 item 4): `MERGE INTO
  // ... WITH SCHEMA EVOLUTION` (and auto-evolution) routes source-only
  // columns through alterTable AddColumn — the manifest-recorded add
  // directive, no data rewrite — before the CoW write, the Delta
  // mergeSchema shape on the SQL path.
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** `_dir` — the manifest data directory holding the row. Hidden from
    * `SELECT *`, projectable on demand, and the group identity the
    * dir-granular row-level operations (r18) probe and replace on. A
    * user table that carries its own `_dir` DATA column shadows it
    * (Spark's standard conflict rule) — [[dirTracking]] then turns the
    * row-level machinery back to the conservative full replace. */
  private[graft] def dirTracking: Boolean =
    !schema.fieldNames.contains(DirLabeledFileIndex.DirColumn)

  override def metadataColumns(): Array[MetadataColumn] =
    if (!dirTracking) Array.empty
    else Array(new MetadataColumn {
      override def name(): String = DirLabeledFileIndex.DirColumn
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest data directory holding the row (graftlake group identity)"
    })

  /** Rename-evolved snapshots scan by column mapping when every dir
    * carries field ids (the V1 provider's r17 discipline, same
    * requirements); otherwise refuse loudly with the compact-to-upgrade
    * path. The id-bearing schema itself lives on [[schema]]. */
  private[graft] def scanSchema(dirs: Seq[String]): StructType = {
    val directives = SnapshotLake
      .manifestDirectives(spark, tableRoot, snapshotAtLoad)
    val renames = directives.filter(_.split("\t")(1) == "rename")
    if (renames.nonEmpty) {
      require(spark.conf.get("spark.sql.parquet.fieldId.read.enabled",
          "false").toBoolean,
        "graftlake scans rename-evolved tables by parquet field id — " +
        "set spark.sql.parquet.fieldId.read.enabled=true (or use " +
        "SnapshotLake.readAt)")
      require(SnapshotLake.dirsCarryFieldIds(spark, dirs),
        s"a directory of $tableRoot predates field-id writes (r17) — run " +
        "SnapshotLake.compact to rewrite it with ids, or read via " +
        "SnapshotLake.readAt")
      // a swapped/recycled rename chain defeats parquet's BY-NAME
      // predicate pushdown (silent row loss — the r18 repro); the V1
      // relation falls back to the aligned readAt plan, this V2 scan
      // refuses loudly until compact materializes the chain
      require(!SnapshotLake.renameReusesName(directives,
          schema.fieldNames.toSeq),
        s"the rename chain of $tableRoot reuses a live physical name — " +
        "parquet pushdown binds by name and would prune on the wrong " +
        "column; run SnapshotLake.compact to materialize the chain, or " +
        "read via spark.read.format(\"graftlake\") / SnapshotLake.readAt")
    }
    schema
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val dirs = SnapshotLake.manifestDirs(spark, tableRoot, snapshotAtLoad)
    val reqSchema = scanSchema(dirs)
    // manifest-stats planning (r17): same dir-disqualification the V1
    // relation applies — pushed predicates prune whole dirs with zero
    // footer reads; statsPruning=false opts out
    val stats =
      if (Option(options.get("statsPruning")).exists(_.trim == "false"))
        Map.empty[String, Map[String, ColStats]]
      else StatsPrune.parse(
        SnapshotLake.manifestStats(spark, tableRoot, snapshotAtLoad))
    // dir-labeled index (r18): `_dir` rides as a synthetic partition
    // column — zero row-width cost unless projected, partition-pruned
    // when filtered, and the probe column of the dir-granular row-level
    // operations. A user `_dir` DATA column shadows the synthetic one
    // entirely (plain index, no partition column) so it stays readable.
    // bucket-laid-out tables (r19): the scan reports the layout as
    // KeyGroupedPartitioning so SQL joins on the bucket columns plan
    // exchange-free (storage-partitioned joins; needs
    // spark.sql.sources.v2.bucketing.enabled=true)
    val bucket = SnapshotLake.manifestBucket(spark, tableRoot,
      snapshotAtLoad)
    // manifest-answered aggregates + runtime dir pruning (r19) sit on
    // top of / around the delegated parquet builder; schema-evolved
    // tables keep the parquet path only (stats are keyed by write-time
    // physical names)
    val evolved = SnapshotLake
      .manifestDirectives(spark, tableRoot, snapshotAtLoad).nonEmpty
    def wrapped(inner: ParquetScanBuilder): ScanBuilder =
      new GraftLakeScanBuilder(inner, dirs, stats, evolved, reqSchema,
        p =>
          if (!inner.isInstanceOf[BucketedParquetScanBuilder] &&
              p.pushedAggregate.isEmpty && stats.nonEmpty)
            new RuntimePrunedParquetScan(p, dirs, stats, reqSchema)
          else p)
    if (dirTracking) {
      val index = new DirLabeledFileIndex(spark, dirs, reqSchema, stats)
      val full = StructType(reqSchema.fields :+ org.apache.spark.sql.types
        .StructField(DirLabeledFileIndex.DirColumn, StringType,
          nullable = false))
      bucket match {
        case Some((n, cols, _)) =>
          wrapped(new BucketedParquetScanBuilder(spark, index, full,
            reqSchema, options, n, cols, dirs, stats))
        case None => wrapped(ParquetScanBuilder(spark, index, full,
          reqSchema, options))
      }
    } else {
      val index =
        if (stats.isEmpty)
          new InMemoryFileIndex(spark, dirs.map(new Path(_)),
            Map.empty[String, String], Some(reqSchema))
        else new StatsPrunedFileIndex(spark, dirs, reqSchema, stats)
      bucket match {
        case Some((n, cols, _)) =>
          wrapped(new BucketedParquetScanBuilder(spark, index, reqSchema,
            reqSchema, options, n, cols, dirs, stats))
        case None =>
          wrapped(ParquetScanBuilder(spark, index, reqSchema, reqSchema,
            options))
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLakeWriteBuilder(tableRoot, info.schema(),
      SnapshotLake.manifestBucket(spark, tableRoot, snapshotAtLoad))

  /** Reported layout: the bucket transform when the manifest records one
    * (DESCRIBE shows it; createTable round-trips it) — sorted_bucket
    * when the layout carries within-bucket sort columns (r19, advice:
    * DESCRIBE and round-trips no longer lose the SORTED BY half). */
  override def partitioning(): Array[Transform] =
    SnapshotLake.manifestBucket(spark, tableRoot, snapshotAtLoad) match {
      case Some((n, cols, sortCols)) if sortCols.nonEmpty =>
        Array(org.apache.spark.sql.GraftShim.sortedBucket(n, cols,
          sortCols))
      case Some((n, cols, _)) =>
        Array(Expressions.bucket(n, cols: _*))
      case None => Array.empty
    }

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder =
    () => new GraftLakeRowLevelOperation(this, info.command())

  // ---- SupportsDeleteV2: the metadata(-granular) DELETE fast path ----
  // Spark's OptimizeMetadataOnlyDeleteFromTable swaps the group-based
  // rewrite for this whenever the WHERE clause fully translates to V2
  // predicates — landing in SnapshotLake.delete's dir-granular CoW
  // (directories with no matching row survive untouched).

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    predicates.forall(p =>
      org.apache.spark.sql.GraftShim.predicateToV1(p).exists(f => FilterToColumn(f).isDefined))

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val cond = predicates.toSeq
      .map(p => FilterToColumn(org.apache.spark.sql.GraftShim.predicateToV1(p).getOrElse(
        throw new UnsupportedOperationException(
          s"untranslatable DELETE predicate: $p"))).getOrElse(
        throw new UnsupportedOperationException(
          s"untranslatable DELETE predicate: $p")))
      .reduceOption(_ && _).getOrElse(lit(true))
    SnapshotLake.deleteFrom(spark, tableRoot, snapshotAtLoad, cond, 1000000L)
      .getOrElse(throw new IllegalStateException(
        s"concurrent commit at $tableRoot: DELETE read snapshot " +
        s"$snapshotAtLoad but another commit landed first — re-run the " +
        "statement (single-CAS discipline, no silent lost update)"))
    ()
  }
}

/** V1 `sources.Filter` → `Column` translation for the metadata DELETE
  * path (the inverse direction of Spark's own pushdown translation).
  * Returns None for any node it cannot express — canDeleteWhere then
  * routes the statement to the group-based rewrite instead. */
private[graft] object FilterToColumn {
  def apply(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for (a <- apply(l); b <- apply(r)) yield a && b
    case sources.Or(l, r) => for (a <- apply(l); b <- apply(r)) yield a || b
    case sources.Not(c) => apply(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Group-based copy-on-write row-level operation with DIRECTORY-granular
  * groups (r18, VERDICT r17 item 1). The operation requires the `_dir`
  * metadata column, its scan ([[GraftRowLevelScan]]) implements
  * `SupportsRuntimeV2Filtering` on it, and Spark's own
  * `RowLevelOperationRuntimeGroupFiltering` does the rest: it plans a
  * matched-row probe over the ORIGINAL table (normal read path —
  * pushdown, manifest-stats pruning, broadcast-friendly source join for
  * MERGE), feeds the distinct matched `_dir` values to the scan as a
  * runtime IN filter, and the rewrite then reads ONLY the matched
  * directories' rows (matched → modified, unmatched → carried over).
  * The write half replaces exactly the directories the scan served
  * ([[ServedDirs]] — the single scan↔write contract) in ONE atomic
  * manifest CAS'd against the snapshot the statement read: untouched
  * directories survive into the new manifest by identity, the object
  * API's [[SnapshotLake.update]]/[[SnapshotLake.merge]] granularity.
  *
  * Rows reach the write CLEAN: declaring metadata attributes makes
  * Spark's ReplaceDataExec pick the projecting write task
  * (DataAndMetadataWritingSparkTask), which applies the row projection
  * — table columns only, no operation marker — before every
  * `DataWriter.write`. Without metadata attributes (a user `_dir` data
  * column shadows ours) Spark writes the raw rewrite rows, whose HEAD
  * column is the internal operation marker; the writer then strips it
  * (`stripLeadingMarker`) and the commit degrades to the exact full
  * replace. */
private[graft] class GraftLakeRowLevelOperation(table: GraftLakeTable,
                                                cmd: Command)
    extends RowLevelOperation {
  private val spark = SparkSession.active
  private val dirTracking = table.dirTracking
  private[graft] val served = new ServedDirs(
    SnapshotLake.manifestDirs(spark, table.tableRoot, table.snapshotAtLoad))

  override def command(): Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (dirTracking) Array(Expressions.column(DirLabeledFileIndex.DirColumn))
    else Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(table, options, served, dirTracking)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        // a recorded bucket layout survives SQL UPDATE/MERGE/DELETE
        // (r19): the rewrite demands the clustered distribution on the
        // bucket columns (partition id = bucket id), writers tag, and
        // the commit carries the #bucket line forward — co-located
        // joins keep working after row-level mutations
        val bucket = SnapshotLake.manifestBucket(spark, table.tableRoot,
          table.snapshotAtLoad)
        GraftLakeWrites.layoutWrite(bucket,
          new GraftLakeBatchWrite(table.tableRoot, info.schema(),
            GraftLakeBatchWrite.ReplaceDirs(table.snapshotAtLoad, served),
            stripLeadingMarker = !dirTracking, bucketSpec = bucket))
      }
    }
  override def description(): String =
    s"graftlake $cmd (dir-granular copy-on-write, CAS base " +
      s"${table.snapshotAtLoad})"
}

/** Shared write-shape helper (r19): wraps a [[GraftLakeBatchWrite]] in a
  * `Write` that — when the table records a bucket layout — demands
  * Spark's clustered distribution on the bucket columns with EXACTLY
  * nBuckets partitions (`clustered + requiredNumPartitions` IS
  * `HashPartitioning(cols, n)`, so each task's partition id is its
  * bucket id) plus the within-bucket sort; the writers then tag files
  * `_%05d` and the commit keeps the `#bucket` line. Used by both the
  * INSERT builder and the row-level (UPDATE/MERGE/DELETE) write. */
private[graft] object GraftLakeWrites {
  def layoutWrite(bucket: Option[(Int, Seq[String], Seq[String])],
                  batch: => BatchWrite): Write = bucket match {
    case None => new Write {
      override def toBatch: BatchWrite = batch
    }
    case Some((n, cols, sortCols)) => new Write
        with org.apache.spark.sql.connector.write
          .RequiresDistributionAndOrdering {
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        org.apache.spark.sql.connector.distributions.Distributions
          .clustered(cols.map(c =>
            Expressions.column(c): org.apache.spark.sql.connector
              .expressions.Expression).toArray)
      override def requiredNumPartitions(): Int = n
      override def distributionStrictlyRequired(): Boolean = true
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        (cols ++ sortCols).map(c => Expressions.sort(
          Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection
            .ASCENDING)).toArray
      override def toBatch: BatchWrite = batch
    }
  }
}

/** `INSERT INTO` (append) / `INSERT OVERWRITE` (truncate → atomic
  * full-replace) builder. On a bucket-laid-out table (r18) the write
  * demands Spark's clustered distribution on the bucket columns with
  * EXACTLY nBuckets partitions — `clustered + requiredNumPartitions` IS
  * HashPartitioning(cols, n), so each task's partition id is its bucket
  * id — the writers tag files `_%05d`, and the commit carries the
  * `#bucket` line forward: SQL INSERT INTO / OVERWRITE preserve the
  * co-located layout instead of silently degrading it. */
private[graft] class GraftLakeWriteBuilder(tableRoot: String,
                                           schema: StructType,
                                           bucket: Option[(Int, Seq[String],
                                             Seq[String])] = None)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    def mode =
      if (doTruncate) GraftLakeBatchWrite.Truncate
      else GraftLakeBatchWrite.Append
    GraftLakeWrites.layoutWrite(bucket,
      new GraftLakeBatchWrite(tableRoot, schema, mode, bucketSpec = bucket))
  }
}

private[graft] object GraftLakeBatchWrite {
  sealed trait Mode
  /** Stack onto the latest manifest (guarded and retried, like commit). */
  case object Append extends Mode
  /** Atomic full replace of whatever is latest (INSERT OVERWRITE). */
  case object Truncate extends Mode
  /** The row-level-operation commit (r18): replace EXACTLY the
    * directories the operation's scan served — [[ServedDirs]] narrowed
    * by runtime group filtering, or the full pinned list when it
    * couldn't narrow — CAS'd to exactly `base + 1`; any interleaved
    * commit fails the statement loudly. Untouched directories carry
    * into the new manifest by identity, with the snapshot's evolution
    * directives (they still need them applied; the directives are
    * no-ops on the freshly-written evolved-schema directory). */
  final case class ReplaceDirs(base: Long, served: ServedDirs) extends Mode

  case class StagedLakeFile(path: String) extends WriterCommitMessage
}

/** The distributed write half: tasks write real parquet (Spark's own
  * ParquetOutputWriter via ParquetUtils.prepareWrite — same footer/codec
  * config as `df.write.parquet`) into a staging directory under
  * `data/` that no manifest references; job commit renames exactly the
  * REPORTED files into a fresh data directory (a speculative duplicate
  * that lost the task race never lands) and then commits it through
  * [[SnapshotLake]]'s one commit path. A crash at any point leaves only
  * unreferenced directories — invisible to readers, GC'd by
  * [[SnapshotLake.expire]]. */
private[graft] class GraftLakeBatchWrite(tableRoot: String,
                                         schema: StructType,
                                         mode: GraftLakeBatchWrite.Mode,
                                         stripLeadingMarker: Boolean = false,
                                         bucketSpec: Option[(Int,
                                           Seq[String], Seq[String])] = None)
    extends BatchWrite {
  import GraftLakeBatchWrite._

  private val jobId = UUID.randomUUID().toString
  private def stagingDir = s"$tableRoot/data/$jobId-staging"
  private def dataDir = s"$tableRoot/data/$jobId"
  private def spark: SparkSession = SparkSession.active
  private def hadoopConf: Configuration =
    spark.sparkContext.hadoopConfiguration

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    // prepareWrite mutates the job conf with the parquet write-support
    // keys (schema, legacy-format flag, timestamp type, codec) — capture
    // THAT conf for the executors. Field ids (column mapping, r17) ride
    // the schema metadata — computed against the directive chain the
    // COMMIT will record (r18, the rename→OVERWRITE→rename repro):
    // Truncate RESETS directives, so its files must carry
    // current-name-hash ids (a later rename then walks back to exactly
    // these names); Append and ReplaceDirs carry the chain forward, so
    // origin-hash ids stay consistent with it.
    val dirvs = mode match {
      case GraftLakeBatchWrite.Truncate => Nil
      case _ => SnapshotLake.latest(spark, tableRoot)
        .map(SnapshotLake.manifestDirectives(spark, tableRoot, _))
        .getOrElse(Nil)
    }
    val idSchema = SnapshotLake.withFieldIds(schema, dirvs)
    val job = Job.getInstance(hadoopConf)
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      idSchema, new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    new GraftLakeWriterFactory(stagingDir, idSchema, factory,
      HadoopConfCarrier.capture(job.getConfiguration), stripLeadingMarker,
      bucketTagged = bucketSpec.isDefined)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tableRoot).getFileSystem(hadoopConf)
    fs.mkdirs(new Path(dataDir))
    messages.foreach { case StagedLakeFile(p) =>
      val src = new Path(p)
      if (!fs.rename(src, new Path(dataDir, src.getName)))
        throw new java.io.IOException(
          s"commit rename failed: $src -> $dataDir/${src.getName}")
    }
    fs.delete(new Path(stagingDir), true)
    mode match {
      // the statement's rows were routed for the layout it LOADED; the
      // append guard refuses if a concurrent writer changed the table's
      // bucket line or dropped a column this INSERT still carries
      case Append =>
        SnapshotLake.commitDir(spark, tableRoot, dataDir, bucketSpec,
          append = true, schema.fieldNames.toSeq, "INSERT INTO")
      case Truncate =>
        SnapshotLake.commitDir(spark, tableRoot, dataDir, bucketSpec,
          append = false, schema.fieldNames.toSeq, "INSERT OVERWRITE")
      case ReplaceDirs(base, served) =>
        // no-op statement guard (r19, advice): a row-level statement
        // whose runtime probe matched ZERO directories replaces nothing;
        // if its write also produced no rows (a DELETE/UPDATE matching
        // no rows — a MERGE may still insert), committing would bloat
        // the history with an empty directory (and, pre-r19, drop a
        // bucket layout). Leave the table at the pinned snapshot.
        if (served.dirs.isEmpty) {
          val dd = new Path(dataDir)
          val hasParts = fs.exists(dd) && fs.listStatus(dd).exists { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          if (!hasParts || spark.read.parquet(dataDir).isEmpty) {
            fs.delete(dd, true)
            return
          }
        }
        val kept = SnapshotLake.manifestDirs(spark, tableRoot, base)
          .filterNot(served.dirs.toSet)
        if (SnapshotLake.publish(spark, tableRoot, base, kept :+ dataDir,
            SnapshotLake.manifestDirectives(spark, tableRoot, base),
            bucketSpec).isEmpty) {
          fs.delete(new Path(dataDir), true)
          throw new IllegalStateException(
            s"concurrent commit at $tableRoot: this statement read " +
            s"snapshot $base but another commit landed first — re-run " +
            "the statement (single-CAS discipline, no silent lost update)")
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tableRoot).getFileSystem(hadoopConf)
    fs.delete(new Path(stagingDir), true)
    fs.delete(new Path(dataDir), true)
  }
}

private[graft] class GraftLakeWriterFactory(stagingDir: String,
                                            schema: StructType,
                                            factory: OutputWriterFactory,
                                            conf: Array[(String, String)],
                                            stripLeadingMarker: Boolean,
                                            bucketTagged: Boolean = false)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftLakeDataWriter(stagingDir, schema, factory, partitionId,
      taskId, HadoopConfCarrier.restore(conf), stripLeadingMarker,
      bucketTagged)
}

private[graft] class GraftLakeDataWriter(stagingDir: String,
                                         schema: StructType,
                                         factory: OutputWriterFactory,
                                         partitionId: Int, taskId: Long,
                                         conf: Configuration,
                                         stripLeadingMarker: Boolean,
                                         bucketTagged: Boolean = false)
    extends DataWriter[InternalRow] {
  import GraftLakeBatchWrite.StagedLakeFile

  private val attempt = new TaskAttemptContextImpl(conf,
    new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID(
      "graftlake", 0), TaskType.MAP, partitionId), taskId.toInt))
  // task ids restart at 0 per application: the file name alone must be
  // collision-free across jobs, so the staging dir (job UUID) carries
  // the uniqueness and the landed name keeps partition+task for debug
  // bucketed tables (r18): the write demanded exactly-nBuckets clustered
  // partitions, so partitionId IS the bucket id — tag it in the _%05d
  // form BucketingUtils parses (last underscore group before the dots)
  private val bucketTag =
    if (bucketTagged) f"_$partitionId%05d" else ""
  private val staged =
    s"$stagingDir/part-$partitionId-$taskId$bucketTag" +
      factory.getFileExtension(attempt)
  // created EAGERLY so even a zero-row task emits a schema-bearing file
  // (an empty table must still read with its schema)
  private val out: OutputWriter = factory.newInstance(staged, schema, attempt)

  // Group-based row-level writes carry Spark's internal __row_operation
  // marker as the HEAD column of every row (ReplaceData.operationResolved
  // asserts exactly that layout), and the marker-stripping write task is
  // only chosen for connectors that declared metadata columns
  // (ReplaceDataExec.writingTask) — graftlake's whole-table group has
  // none, so the writer applies the same fields-1..n projection the
  // projecting task would have (the write schema is the table schema, in
  // table order, matching the rewrite's data-attribute order).
  private val proj =
    if (stripLeadingMarker)
      Some(org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
        (1 to schema.length).toIndexedSeq))
    else None
  private var checkedArity = false

  override def write(row: InternalRow): Unit = proj match {
    case Some(p) =>
      if (!checkedArity) {
        require(row.numFields == schema.length + 1,
          s"row-level write expected rows of [__row_operation] ++ " +
          s"${schema.length} table columns, got ${row.numFields} fields " +
          "— Spark's ReplaceData row layout changed")
        checkedArity = true
      }
      p.project(row)
      out.write(p)
    case None => out.write(row)
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    StagedLakeFile(staged)
  }
  override def abort(): Unit = {
    out.close()
    new Path(staged).getFileSystem(conf).delete(new Path(staged), false)
  }
  override def close(): Unit = ()
}
