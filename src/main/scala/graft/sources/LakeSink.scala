package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-committed lake table — the manifest-commit protocol (the
  * Iceberg/Delta core idea, reduced to its invariants) layered over plain
  * parquet, so multi-file writes become ATOMIC and reads become
  * REPEATABLE:
  *
  *  - data files land under `data/<writer-uuid>/` first — a directory no
  *    reader ever lists, so a crashed half-write is garbage, not a
  *    torn table;
  *  - a snapshot IS its manifest file `manifests/snap-<id>.manifest`
  *    (the sorted list of data directories visible at that snapshot);
  *    the commit point is the ATOMIC RENAME of `<tmp>` →
  *    `snap-<id>.manifest` — the same create-then-rename idiom as
  *    [[graft.queue.BatchIdLedger.commit]], with the same
  *    marker-already-exists = "another committer won" reading;
  *  - ids are MONOTONIC: a committer allocates max(existing)+1 and the
  *    rename doubles as the CAS — losing the race (the id's manifest
  *    appeared) means re-reading the new latest and retrying with the
  *    next id, so concurrent appends serialize without a lock service;
  *  - committed manifests and their data are IMMUTABLE — never rewritten,
  *    never deleted by commits — so a reader holding snapshot N−1 is
  *    byte-stable while N (or a half-written would-be N) lands:
  *    time-travel `readAt(id)` is just "read an old manifest".
  *
  * At 100 TB the protocol is exactly as cheap as it looks: commit cost is
  * one tiny file write + one rename regardless of data volume, readers
  * plan from O(snapshots) manifest lines, and expired snapshots can be
  * vacuumed by deleting manifests-then-unreferenced-dirs (not
  * implemented here — it is a GC policy, not a correctness need).
  * Caveat inherited from every rename-based table format: the store must
  * give atomic rename-no-overwrite (HDFS/ABFS do; raw S3 needs a
  * metastore or a conditional-put shim at this seam).
  *
  * Every writer commits through ONE path: [[writeData]] lands the data
  * dir under the layout it must honor, [[guardAppend]] checks an append
  * against the base it lands on, [[publish]] CASes the manifest at
  * `base + 1`, and [[retryCommit]] re-runs the attempt against a newer
  * base after a lost race. Rewrites that are a function of their base
  * (compact, the row-level mutations, rollback, publishing a branch) take
  * one [[publish]] and return None on a lost race instead of retrying.
  */
object SnapshotLake {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def fsFor(spark: SparkSession, table: String): FileSystem =
    new HPath(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(table: String) = new HPath(s"$table/manifests")
  private def manifestPath(table: String, id: Long) =
    new HPath(manifestDir(table), s"snap-$id.manifest")
  private val ManifestRe = "snap-(\\d+)\\.manifest".r

  /** All committed snapshot ids, ascending. */
  def snapshots(spark: SparkSession, table: String): Seq[Long] = {
    val fs = fsFor(spark, table)
    val dir = manifestDir(table)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestRe(id) => Some(id.toLong)
      case _              => None
    }).sorted
  }

  /** Latest committed snapshot id, if any commit ever succeeded. */
  def latest(spark: SparkSession, table: String): Option[Long] =
    snapshots(spark, table).lastOption

  /** [[latest]] for operations that need a committed table. */
  private[graft] def requireLatest(spark: SparkSession, table: String): Long =
    latest(spark, table).getOrElse(throw noSnapshot(table))

  private def noSnapshot(table: String) =
    new IllegalArgumentException(s"no committed snapshot at $table")

  /** A recorded bucket layout: (nBuckets, bucket cols, sort cols). */
  private[graft] type Bucket = (Int, Seq[String], Seq[String])

  // ------------------------------------------------------------------
  // Named snapshot tags (r19, VERDICT r18 item 6): immutable refs over
  // the manifest history — `tag(name, id)` pins a committed snapshot
  // under a name, `readAtTag` / SQL `VERSION AS OF 'name'` read it, and
  // [[expire]] RETAINS tagged snapshots (manifest + data) regardless of
  // keepLast — the Iceberg tag semantics. One file per tag under
  // `<table>/refs/`, created with the same no-overwrite atomic rename
  // discipline as manifests: a tag is immutable once placed (drop +
  // re-tag to move it, the explicit two-step).
  // ------------------------------------------------------------------

  private def refsDir(table: String) = new HPath(s"$table/refs")
  private def refPath(table: String, name: String) =
    new HPath(refsDir(table), s"tag-$name")
  private val TagNameRe = "[A-Za-z][A-Za-z0-9._-]*".r

  /** Pin committed snapshot `id` under `name`. Names start with a
    * letter (never ambiguous with a numeric VERSION AS OF) and are
    * immutable: tagging an existing name refuses loudly. */
  def tag(spark: SparkSession, table: String, name: String,
          id: Long): Unit = {
    require(TagNameRe.matches(name),
      s"tag names are [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    require(snapshots(spark, table).contains(id),
      s"no committed snapshot $id at $table (expired or never committed)")
    val fs = fsFor(spark, table)
    fs.mkdirs(refsDir(table))
    val dst = refPath(table, name)
    if (fs.exists(dst)) throw new IllegalArgumentException(
      s"tag '$name' already exists at $table (snapshot " +
      s"${tags(spark, table).get(name).orNull}) — tags are immutable; " +
      "dropTag first to move it")
    val tmp = new HPath(refsDir(table),
      s"tag-$name.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(s"$id\n".getBytes("UTF-8")) finally out.close()
    try org.apache.hadoop.fs.FileContext
      .getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"tag '$name' already exists at $table — tags are immutable")
    }
  }

  /** All tags: name → snapshot id. */
  def tags(spark: SparkSession, table: String): Map[String, Long] = {
    val fs = fsFor(spark, table)
    val dir = refsDir(table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith("tag-") || n.contains(".tmp-")) None
      else scala.util.Try {
        val in = fs.open(st.getPath)
        val id = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim.toLong finally in.close()
        n.stripPrefix("tag-") -> id
      }.toOption
    }.toMap
  }

  /** Remove a tag (the snapshot itself stays until [[expire]] drops it
    * under the normal retention rule). False if absent. */
  def dropTag(spark: SparkSession, table: String, name: String): Boolean =
    fsFor(spark, table).delete(refPath(table, name), false)

  /** [[readAt]] by tag name. */
  def readAtTag(spark: SparkSession, table: String,
                name: String): DataFrame =
    readAt(spark, table, tags(spark, table).getOrElse(name,
      throw new IllegalArgumentException(
        s"no tag '$name' at $table — known: " +
        tags(spark, table).keys.toSeq.sorted.mkString(", "))))

  // ------------------------------------------------------------------
  // Branches (r19, the writable half of VERDICT r18 item 6): a branch
  // is a FULL SnapshotLake table rooted at `<table>/refs/branch-<name>`
  // whose first manifest RE-REFERENCES the fork point's data dirs,
  // directives and #bucket line verbatim — zero data copy, any table
  // size, O(manifest). Because it's an ordinary root, everything
  // already works on it: commits (bucketed commits for bucketed forks),
  // row-level mutations, time travel, the SQL catalog
  // (``INSERT INTO graftlake.`/t/refs/branch-audit` ``), metadata
  // tables. The WRITE-AUDIT-PUBLISH cycle: `branch` → write + validate
  // on the branch → `fastForward` publishes the branch head to main as
  // one commit (refused loudly if main moved past the fork — replay on
  // a fresh branch) → `dropBranch` reclaims branch-only data.
  // GC safety is two-sided: main [[expire]] keeps every dir a live
  // branch references, and [[dropBranch]] deletes only dirs the main
  // chain does NOT reference.
  // ------------------------------------------------------------------

  private[graft] def branchRoot(table: String, name: String): String =
    s"$table/refs/branch-$name"
  private def forkFile(table: String, name: String) =
    new HPath(branchRoot(table, name), "forked-from")

  /** Fork the current head into a new writable branch. Returns the
    * fork-point snapshot id. */
  def branch(spark: SparkSession, table: String, name: String): Long = {
    require(TagNameRe.matches(name),
      s"branch names are [A-Za-z][A-Za-z0-9._-]*, got '$name'")
    val head = requireLatest(spark, table)
    val root = branchRoot(table, name)
    require(latest(spark, root).isEmpty,
      s"branch '$name' already exists at $table — dropBranch first")
    val fs = fsFor(spark, table)
    fs.mkdirs(new HPath(root))
    // the fork marker doubles as the creation lock: losing its
    // no-overwrite create means a concurrent (or half-created) branch
    // owns the name — translate the raw FS error into the contract one
    if (fs.exists(forkFile(table, name)))
      throw new IllegalArgumentException(
        s"branch '$name' already exists at $table (possibly " +
        "half-created) — dropBranch first")
    val ff =
      try fs.create(forkFile(table, name), false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalArgumentException(
            s"branch '$name' already exists at $table (raced a " +
            "concurrent create) — dropBranch first")
      }
    try ff.write(s"$head\n".getBytes("UTF-8")) finally ff.close()
    // a failed seed must not leave an orphan marker poisoning retries
    if (publish(spark, root, 0L, manifestDirs(spark, table, head),
        manifestDirectives(spark, table, head),
        manifestBucket(spark, table, head),
        inheritStatsFrom = Some((table, head))).isEmpty) {
      fs.delete(forkFile(table, name), false)
      throw new IllegalStateException(
        s"branch '$name' seed commit lost a race at $table — retry")
    }
    head
  }

  /** All branches: name → (fork-point id, branch head id). */
  def branches(spark: SparkSession, table: String)
      : Map[String, (Long, Long)] = {
    val fs = fsFor(spark, table)
    val dir = refsDir(table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory || !n.startsWith("branch-")) None
      else {
        val name = n.stripPrefix("branch-")
        for {
          head <- latest(spark, branchRoot(table, name))
          fork <- forkOf(spark, table, name)
        } yield name -> (fork, head)
      }
    }.toMap
  }

  private def forkOf(spark: SparkSession, table: String,
                     name: String): Option[Long] = {
    val fs = fsFor(spark, table)
    val p = forkFile(table, name)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong finally in.close()
    }.toOption
  }

  /** Read the branch head (an ordinary table read of the branch root —
    * this helper only resolves the name). */
  def readBranch(spark: SparkSession, table: String,
                 name: String): DataFrame = {
    require(latest(spark, branchRoot(table, name)).isDefined,
      s"no branch '$name' at $table — known: " +
      branches(spark, table).keys.toSeq.sorted.mkString(", "))
    spark.read.format("graftlake").load(branchRoot(table, name))
  }

  /** PUBLISH: commit the branch head's state to main as one new
    * snapshot (dirs/directives/#bucket re-referenced verbatim). The
    * main head must still BE the fork point — if main advanced, the
    * branch is diverged and this refuses loudly (re-branch and replay;
    * first-publisher-wins, never a silent merge). None on a lost CAS
    * race with a concurrent main commit. */
  def fastForward(spark: SparkSession, table: String,
                  name: String): Option[Long] = {
    val root = branchRoot(table, name)
    val bhead = latest(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"no branch '$name' at $table — known: " +
        branches(spark, table).keys.toSeq.sorted.mkString(", ")))
    val fork = forkOf(spark, table, name).getOrElse(
      throw new IllegalStateException(
        s"branch '$name' at $table has no forked-from marker"))
    val base = requireLatest(spark, table)
    require(base == fork,
      s"main advanced past the fork of branch '$name' " +
      s"($fork → $base) — the branch is diverged; re-branch from the " +
      "new head and replay its writes")
    publish(spark, table, base, manifestDirs(spark, root, bhead),
      manifestDirectives(spark, root, bhead),
      manifestBucket(spark, root, bhead),
      inheritStatsFrom = Some((root, bhead)))
  }

  /** Drop a branch: manifests and fork marker first (the branch
    * disappears atomically-enough), then branch-local data dirs the
    * CURRENT main chain does not reference — a fast-forwarded branch's
    * published dirs survive, an abandoned branch's private dirs are
    * reclaimed. False if the branch does not exist. */
  def dropBranch(spark: SparkSession, table: String,
                 name: String): Boolean = {
    val root = branchRoot(table, name)
    val fs = fsFor(spark, table)
    // the branch exists iff its manifest chain or fork marker does —
    // a leftover empty root (published data already GC'd) is not one
    if (latest(spark, root).isEmpty &&
        !fs.exists(forkFile(table, name))) false
    else {
      // liveness for the reclaim: MAIN's whole chain plus every SIBLING
      // branch's chain — a sibling forked after this branch published
      // re-references dirs under THIS root (r19 review finding)
      val live = (snapshots(spark, table)
          .flatMap(manifestDirs(spark, table, _)) ++
        (branches(spark, table).keys.toSet - name).toSeq.flatMap { b =>
          val r = branchRoot(table, b)
          snapshots(spark, r).flatMap(manifestDirs(spark, r, _))
        }).toSet
      fs.delete(manifestDir(root), true)
      fs.delete(forkFile(table, name), false)
      val dataRoot = new HPath(s"$root/data")
      if (fs.exists(dataRoot)) {
        fs.listStatus(dataRoot).foreach { st =>
          // same two-representation guard as expire: manifests may
          // record scheme-qualified URIs while toUri.getPath strips
          // them — keep on EITHER match, delete only when neither hits
          if (!live.contains(st.getPath.toUri.getPath) &&
              !live.exists(_.endsWith("/" + st.getPath.getName)))
            fs.delete(st.getPath, true)
        }
        if (fs.listStatus(dataRoot).isEmpty) fs.delete(dataRoot, false)
      }
      // remove the root only if nothing (published data) remains
      if (fs.exists(new HPath(root)) &&
          fs.listStatus(new HPath(root)).isEmpty)
        fs.delete(new HPath(root), false)
      true
    }
  }

  /** (snapshot id, manifest mtime millis) ascending — the commit clock
    * TIMESTAMP AS OF resolves against (the manifest file IS the commit,
    * so its mtime is the commit instant). */
  def snapshotTimes(spark: SparkSession,
                    table: String): Seq[(Long, Long)] = {
    val fs = fsFor(spark, table)
    snapshots(spark, table).map(id =>
      id -> fs.getFileStatus(manifestPath(table, id)).getModificationTime)
  }

  /** Raw manifest lines at snapshot `id`: data-directory lines plus any
    * `#schema`-prefixed evolution directives (manifest v2, r15). */
  private def manifestLines(spark: SparkSession, table: String,
                            id: Long): Seq[String] = {
    val fs = fsFor(spark, table)
    val p = manifestPath(table, id)
    require(fs.exists(p), s"no committed snapshot $id at $table")
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The data directories visible at snapshot `id`. */
  private[graft] def manifestDirs(spark: SparkSession, table: String,
                           id: Long): Seq[String] =
    manifestLines(spark, table, id).filterNot(_.startsWith("#"))

  /** The schema-evolution directives recorded at snapshot `id`, in
    * application order. Tab-separated so type DDL may carry spaces:
    * `#schema<TAB>add<TAB><name><TAB><typeDdl>` and
    * `#schema<TAB>rename<TAB><from><TAB><to>`. */
  private[graft] def manifestDirectives(spark: SparkSession, table: String,
                                        id: Long): Seq[String] =
    manifestLines(spark, table, id).filter(_.startsWith("#schema"))

  /** Bucket layout property (r18, manifest v4): one `#bucket` line —
    * `#bucket<TAB><n><TAB><cols csv><TAB><sortCols csv>` — declares that
    * EVERY visible data directory was written by [[commitBucketed]]:
    * rows routed to pmod(murmur3(bucketCols), n) (exactly Spark's
    * HashPartitioning bucket function) and files named with Spark's
    * `_%05d` bucket tag. The V1 relation then declares the BucketSpec to
    * Spark, and joins / aggregations on the bucket columns across two
    * such tables run WITHOUT a shuffle — the co-located-join shape that
    * kills the dominant exchange at 100 TB. The line is maintained by
    * [[commitBucketed]], by compact/ALTER (layout-preserving since r18),
    * and — since r19 — by the row-level mutations ([[delete]]/[[update]]/
    * [[merge]] and the SQL row-level path), which
    * route their rewritten directories through the SAME bucket function
    * and keep the line; a plain [[commit]] append still refuses loudly,
    * so the line's presence IS the invariant that all dirs carry
    * bucket-tagged files. */
  private[graft] def manifestBucket(spark: SparkSession, table: String,
                                    id: Long): Option[Bucket] =
    manifestLines(spark, table, id).find(_.startsWith("#bucket"))
      .map { l =>
        val p = l.split("\t", -1)
        (p(1).toInt,
         p(2).split(",").filter(_.nonEmpty).toSeq,
         p(3).split(",").filter(_.nonEmpty).toSeq)
      }

  /** The one `#bucket` line formatter (r19), called by [[publish]]. */
  private def bucketLineOf(bucket: Option[Bucket]): Option[String] =
    bucket.map { case (n, cols, sortCols) =>
      s"#bucket\t$n\t${cols.mkString(",")}\t${sortCols.mkString(",")}"
    }

  /** Manifest v3 (r17): per-directory column statistics recorded at
    * commit, one line per (dir, atomic numeric/date/timestamp column):
    * `#stats<TAB><dir><TAB><col><TAB><rows><TAB><nulls><TAB><min><TAB><max>`
    * (min/max are exact decimal strings; both empty for an all-null
    * column). The reader half ([[GraftLakeProvider]]'s planning-time
    * prune) disqualifies whole directories against pushed predicates
    * BEFORE any footer read — the Iceberg manifest-stats idea: at 100 TB
    * a z-ordered table's point probe plans from O(manifest) instead of
    * O(files) footers. Stats are a pure function of the dir's immutable
    * files, so commits INHERIT lines for carried-over dirs and compute
    * fresh ones (from parquet footers, no data scan) only for new dirs. */
  private[graft] def manifestStats(spark: SparkSession, table: String,
                                   id: Long): Seq[String] =
    manifestLines(spark, table, id).filter(_.startsWith("#stats"))

  /** Apply recorded evolution to a raw merged-schema read — the reader
    * half of ALTER-without-rewrite (r14 verdict item 5):
    *  - `add`: a column NO visible file carries yet materializes as a
    *    typed NULL (post-evolution appends that DO carry it read through
    *    untouched — mergeSchema already unions those).
    *  - `rename`: rename-by-mapping. Pre-rename directories still store
    *    the old name, post-rename writes store the new one, so a merged
    *    read can surface BOTH columns — the mapping coalesces old into
    *    new and drops old, giving one logical column across history.
    *  - `drop` (r18): drop-by-mapping — the column stays in the files,
    *    reads mask it out; [[compact]] materializes the removal (and,
    *    by dropping directives, lifts the name-reuse refusal).
    * Directives apply in recorded order, so chained renames compose. */
  private[graft] def applyDirectives(df: DataFrame,
                                     directives: Seq[String]): DataFrame =
    directives.foldLeft(df) { (d, line) =>
      line.split("\t") match {
        case Array("#schema", "add", name, typeDdl) =>
          if (d.columns.contains(name)) d
          else d.withColumn(name, lit(null).cast(typeDdl))
        case Array("#schema", "rename", from, to) =>
          (d.columns.contains(from), d.columns.contains(to)) match {
            case (true, true) =>
              // one column, at whichever name the merged schema lists
              // first: that is the column's place in every footer, and
              // the other name is appended by whichever dir the merged
              // read saw first, so its place varies with the dir order
              val at = math.min(d.columns.indexOf(from), d.columns.indexOf(to))
              val rest = d.columns.toSeq.filterNot(c => c == from || c == to)
                .map(col)
              d.select((rest.take(at) :+ coalesce(col(to), col(from)).as(to))
                ++ rest.drop(at): _*)
            case (true, false) => d.withColumnRenamed(from, to)
            case _             => d
          }
        case Array("#schema", "drop", name) =>
          if (d.columns.contains(name)) d.drop(name) else d
        case _ => throw new IllegalArgumentException(
          s"unknown manifest directive: $line")
      }
    }

  /** Names retired by a `drop` directive in the chain — refused for
    * re-add/re-rename/append until [[compact]] materializes the removal
    * (a reused name would collide with the masked physical column in
    * every pre-drop directory). */
  private[graft] def droppedNames(directives: Seq[String]): Set[String] =
    directives.flatMap(_.split("\t") match {
      case Array("#schema", "drop", n) => Some(n)
      case _ => None
    }).toSet

  // ------------------------------------------------------------------
  // Column mapping by parquet field id (r17, VERDICT r16 item 3 — the
  // Delta/Iceberg technique that lets the native providers scan
  // rename-evolved tables). Every column's field id is a STABLE hash of
  // its ORIGIN name — the name it was first written under, resolved by
  // walking the manifest's recorded rename chain backwards — so a
  // rename changes the logical name but never the id. Writers attach
  // the ids as parquet field ids; readers request the evolved schema
  // WITH ids and Spark's field-id matching resolves a pre-rename file's
  // old physical name to the new logical column. Directories written
  // before r17 carry no ids and keep the loud refusal (compact rewrites
  // them and lifts it); `readAt`'s coalesce projection remains the
  // always-works fallback.
  // ------------------------------------------------------------------

  /** The origin (first-written) name of logical column `name` under the
    * recorded directive chain — reversed walk so reused names resolve
    * through the chain segment that actually produced them. */
  private[graft] def originOf(name: String,
                              directives: Seq[String]): String =
    directives.reverse.foldLeft(name) { (cur, line) =>
      line.split("\t") match {
        case Array("#schema", "rename", from, to) if cur == to => from
        case _ => cur
      }
    }

  /** Stable positive field id for an origin name (String.hashCode is
    * spec-fixed across JVMs). */
  private[graft] def fieldIdFor(origin: String): Int =
    math.max(1, origin.hashCode & 0x7fffffff)

  /** True when the rename chain REUSES a live physical name (r18, the
    * swapped-renames repro): some current logical column `n` is also the
    * ORIGIN — the physical name pre-rename files still store — of a
    * DIFFERENT column. Field-id matching reads such tables correctly,
    * but parquet PREDICATE pushdown binds by NAME inside each file, so a
    * filter on logical `n` can row-group-prune against the other
    * column's values and silently lose rows. The native scans therefore
    * step off the pushdown path under reuse: the V1 relation serves the
    * aligned [[readAt]] plan (exact, unpushed), the V2 catalog scan
    * refuses loudly. [[compact]] materializes the chain and restores the
    * native fast path. */
  private[graft] def renameReusesName(directives: Seq[String],
                                      names: Seq[String]): Boolean = {
    val origin = names.map(n => n -> originOf(n, directives)).toMap
    names.exists(n => origin.exists { case (m, om) => m != n && om == n })
  }

  /** The schema with `parquet.field.id` metadata attached to every
    * top-level field (renames are top-level, so nested fields resolve by
    * name inside their matched struct). Fails loudly on an id collision
    * — silent collision would cross-wire two columns at read. */
  private[graft] def withFieldIds(schema: org.apache.spark.sql.types.StructType,
                                  directives: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    val ids = schema.fields.map(f => f.name -> fieldIdFor(originOf(f.name,
      directives))).toMap
    require(ids.values.toSet.size == ids.size,
      s"field-id hash collision among ${schema.fieldNames.mkString(",")} — " +
      "rename the colliding column before committing")
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("parquet.field.id", ids(f.name).toLong).build())
    })
  }

  /** True iff every listed dir's parquet files carry field ids on every
    * top-level column (one footer read per dir — planning-sized). */
  private[graft] def dirsCarryFieldIds(spark: SparkSession,
                                       dirs: Seq[String]): Boolean =
    dirs.forall { d =>
      try {
        val fs = fsFor(spark, d)
        fs.listStatus(new HPath(d)).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.headOption.forall { st =>
          val footer = org.apache.spark.sql.execution.datasources.parquet
            .ParquetFooterReader.readFooter(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, spark.sparkContext.hadoopConfiguration),
              org.apache.parquet.format.converter.ParquetMetadataConverter
                .SKIP_ROW_GROUPS)
          footer.getFileMetaData.getSchema.getFields.stream()
            .allMatch(f => f.getId != null)
        }
      } catch { case scala.util.control.NonFatal(_) => false }
    }

  /** Merged-schema raw read of lake data dirs with parquet field-id
    * metadata STRIPPED from the requested schema (r17): the raw merged
    * union of a rename-evolved table carries BOTH the old and the new
    * column name with the SAME origin-hash field id, and under
    * `spark.sql.parquet.fieldId.read.enabled` the reader would match by
    * id and cross-wire them — these call sites (readAt's coalesce
    * mapping, the CoW mutation rewrites, incremental deltas) WANT
    * name-resolution semantics; id matching belongs to the single-name
    * evolved-schema scans of the graftlake providers. */
  private[graft] def readMergedRaw(spark: SparkSession,
                                   dirs: Seq[String]): DataFrame = {
    val inferred = spark.read.option("mergeSchema", "true")
      .parquet(dirs: _*).schema
    val stripped = org.apache.spark.sql.types.StructType(
      inferred.fields.map(_.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty)))
    spark.read.schema(stripped).parquet(dirs: _*)
  }

  /** Step 1 of a commit, and the one data-dir writer: land `df`
    * somewhere no reader looks. A crash after this leaves an unreferenced
    * directory: invisible. `private[graft]` so LakeSinkSpec can simulate
    * exactly that crash.
    *
    * Files carry origin-hash parquet field ids (column mapping, r17)
    * under `idDirectives`, the chain the commit will RECORD (r18);
    * default: the latest committed chain. A full replace or compact
    * resets directives, so it passes `Some(Nil)`: stamping ids from the
    * pre-replace chain would desynchronize them from any post-replace
    * rename (the rename→overwrite→rename repro).
    *
    * With a `layout` (r18) rows route to bucket
    * `pmod(murmur3(cols), n)` — `repartition(n, cols)` IS Spark's
    * HashPartitioning bucket function, so partition index = bucket id —
    * sort within buckets by `cols ++ sortCols`, and every part file is
    * renamed to carry the `_%05d` tag Spark's BucketingUtils parses
    * (inserted before the first extension dot). `intoDir` (r19) names the
    * dir instead of a fresh UUID: the idempotent stream commit keys it by
    * batch. */
  private[graft] def writeData(df: DataFrame, table: String,
                               maxRecordsPerFile: Long,
                               layout: Option[Bucket] = None,
                               idDirectives: Option[Seq[String]] = None,
                               intoDir: Option[String] = None): String = {
    val spark = df.sparkSession
    val dir = intoDir.getOrElse(s"$table/data/${java.util.UUID.randomUUID()}")
    val dirvs = idDirectives.getOrElse(latest(spark, table)
      .map(manifestDirectives(spark, table, _)).getOrElse(Nil))
    val withIds = withFieldIds(df.schema, dirvs)
    val tagged = df.select(df.columns.zipWithIndex.map { case (c, i) =>
      col(s"`$c`").as(c, withIds.fields(i).metadata)
    }.toIndexedSeq: _*)
    // an EMPTY bucketed frame must still land one schema-bearing file (an
    // empty bucketed CREATE TABLE) — n empty shuffle partitions may write
    // none, so route it through a single partition, tagged bucket 0 below
    // (an empty bucket 0 is vacuously correctly routed)
    val routed = layout match {
      case Some(_) if tagged.isEmpty => tagged.repartition(1)
      case Some((n, cols, sortCols)) =>
        tagged.repartition(n, cols.map(col): _*)
          .sortWithinPartitions((cols ++ sortCols).map(col): _*)
      case None => tagged
    }
    routed.write.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("errorifexists").parquet(dir)
    if (layout.isDefined) {
      val fs = fsFor(spark, dir)
      val PartIdx = "part-(\\d+)-.*".r
      fs.listStatus(new HPath(dir)).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) {
          val tag = n match {
            case PartIdx(idx) => f"_${idx.toInt}%05d"
            case _ => throw new IllegalStateException(
              s"unexpected part-file name in bucketed write: $n")
          }
          val renamed = n.replaceFirst("\\.", s"$tag.")
          require(fs.rename(st.getPath, new HPath(dir, renamed)),
            s"bucket-tag rename failed: $n -> $renamed")
        }
      }
    }
    dir
  }

  /** Footer-derived [[manifestStats]] lines for one data dir: per
    * atomic numeric/date/timestamp(micros) column, exact min/max (merged
    * across files and row groups), null count and row count — read from
    * parquet FOOTERS only, never the data. Columns whose physical stats
    * cannot be trusted for logical comparison are skipped: decimals
    * (unscaled physical values), strings/binary (truncation), ts-millis,
    * NaN/Inf float endpoints, chunks with missing statistics. A dir with
    * no eligible column records one `-` sentinel line so later commits
    * inherit instead of re-reading footers. Never throws — stats are an
    * optimization, a failure records the sentinel and the dir simply
    * does not prune. */
  private[graft] def computeStatsLines(spark: SparkSession,
                                       dir: String): Seq[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val sentinel = Seq(s"#stats\t$dir\t-\t0\t0\t\t")
    try {
      val fs = fsFor(spark, dir)
      val files = fs.listStatus(new HPath(dir)).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      // (col -> (rows, nulls, min, max)); banned = stats untrustworthy
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Long, Long, Option[BigDecimal], Option[BigDecimal])]
      val banned = scala.collection.mutable.Set.empty[String]
      // string columns accumulate EXACT byte-order endpoints across
      // blocks; truncate(16) applies once at emit (r18)
      val sacc = scala.collection.mutable.LinkedHashMap.empty[String,
        (Long, Long, Option[org.apache.spark.unsafe.types.UTF8String],
         Option[org.apache.spark.unsafe.types.UTF8String])]
      val sbanned = scala.collection.mutable.Set.empty[String]
      // decScale: Some(s) for DECIMAL chunks — endpoints are UNSCALED
      // (int/long/two's-complement-big-endian binary) and rescale to the
      // exact decimal value, the domain the predicate side compares in
      // (r19: money columns are the commonest real range predicates)
      def bdOf(v: AnyRef, decScale: Option[Int]): Option[BigDecimal] =
        (v, decScale) match {
          case (i: java.lang.Integer, Some(s)) =>
            Some(BigDecimal(BigInt(i.intValue), s))
          case (l: java.lang.Long, Some(s)) =>
            Some(BigDecimal(BigInt(l.longValue), s))
          case (b: org.apache.parquet.io.api.Binary, Some(s)) =>
            Some(BigDecimal(new java.math.BigDecimal(
              new java.math.BigInteger(b.getBytes), s)))
          case (i: java.lang.Integer, None) => Some(BigDecimal(i.intValue))
          case (l: java.lang.Long, None)    => Some(BigDecimal(l.longValue))
          case (f: java.lang.Float, None) =>
            if (f.isNaN || f.isInfinite) None
            else Some(BigDecimal(f.doubleValue))
          case (d: java.lang.Double, None) =>
            if (d.isNaN || d.isInfinite) None
            else Some(BigDecimal(d.doubleValue))
          case _ => None
        }
      files.foreach { st =>
        val footer = org.apache.spark.sql.execution.datasources.parquet
          .ParquetFooterReader.readFooter(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, spark.sparkContext.hadoopConfiguration),
            org.apache.parquet.format.converter.ParquetMetadataConverter
              .NO_FILTER)
        footer.getBlocks.forEach { block =>
          block.getColumns.forEach { chunk =>
            val name = chunk.getPath.toDotString
            val pt = chunk.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val decScale = ann match {
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                Some(d.getScale)
              case _ => None
            }
            val eligible = !name.contains(".") && !name.contains("\t") &&
              (pt.getPrimitiveTypeName match {
                case INT32 | INT64 => ann == null ||
                  ann.isInstanceOf[LogicalTypeAnnotation
                    .DateLogicalTypeAnnotation] ||
                  decScale.isDefined ||
                  (ann match {
                    case t: LogicalTypeAnnotation
                        .TimestampLogicalTypeAnnotation =>
                      t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                    case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                      i.isSigned
                    case _ => false
                  })
                case FLOAT | DOUBLE => ann == null
                // decimals over binary physical types (r19): endpoints
                // are unscaled two's-complement bytes, exact at any
                // precision
                case FIXED_LEN_BYTE_ARRAY | BINARY => decScale.isDefined
                case _ => false
              })
            if (eligible && !banned(name)) {
              val s0 = chunk.getStatistics
              if (s0 == null || !s0.isNumNullsSet) {
                banned += name; acc.remove(name)
              } else {
                val (mn, mx) =
                  if (!s0.hasNonNullValue) (None, None)
                  else (bdOf(s0.genericGetMin.asInstanceOf[AnyRef], decScale),
                        bdOf(s0.genericGetMax.asInstanceOf[AnyRef], decScale))
                val hasValues = block.getRowCount > s0.getNumNulls
                if (hasValues && (mn.isEmpty || mx.isEmpty)) {
                  // non-null values exist but endpoints are unusable
                  banned += name; acc.remove(name)
                } else {
                  val (r0, n0, pmn, pmx) = acc.getOrElse(name,
                    (0L, 0L, None: Option[BigDecimal],
                     None: Option[BigDecimal]))
                  def combine(a: Option[BigDecimal], b: Option[BigDecimal],
                              f: (BigDecimal, BigDecimal) => BigDecimal) =
                    (a, b) match {
                      case (Some(x), Some(y)) => Some(f(x, y))
                      case (x, None) => x
                      case (None, y) => y
                    }
                  acc(name) = (r0 + block.getRowCount,
                    n0 + s0.getNumNulls,
                    combine(pmn, mn, _ min _), combine(pmx, mx, _ max _))
                }
              }
            }
            // string stats (manifest v4, r18): BINARY/UTF8 chunks merge
            // exact unsigned-byte-order endpoints; a chunk whose stats
            // were omitted (parquet drops oversized binary stats) bans
            // the column — same trust discipline as the numeric path
            val strEligible = !name.contains(".") && !name.contains("\t") &&
              pt.getPrimitiveTypeName == BINARY &&
              ann.isInstanceOf[LogicalTypeAnnotation
                .StringLogicalTypeAnnotation]
            if (strEligible && !sbanned(name)) {
              import org.apache.spark.unsafe.types.UTF8String
              val s0 = chunk.getStatistics
              if (s0 == null || !s0.isNumNullsSet) {
                sbanned += name; sacc.remove(name)
              } else {
                val (mn, mx) =
                  if (!s0.hasNonNullValue) (None, None)
                  else (Option(s0.getMinBytes).map(UTF8String.fromBytes),
                        Option(s0.getMaxBytes).map(UTF8String.fromBytes))
                val hasValues = block.getRowCount > s0.getNumNulls
                if (hasValues && (mn.isEmpty || mx.isEmpty)) {
                  sbanned += name; sacc.remove(name)
                } else {
                  val (r0, n0, pmn, pmx) = sacc.getOrElse(name,
                    (0L, 0L, None: Option[UTF8String],
                     None: Option[UTF8String]))
                  def smerge(a: Option[UTF8String], b: Option[UTF8String],
                             f: (UTF8String, UTF8String) => UTF8String) =
                    (a, b) match {
                      case (Some(x), Some(y)) => Some(f(x, y))
                      case (x, None) => x
                      case (None, y) => y
                    }
                  sacc(name) = (r0 + block.getRowCount,
                    n0 + s0.getNumNulls,
                    smerge(pmn, mn, (x, y) =>
                      if (x.compareTo(y) <= 0) x else y),
                    smerge(pmx, mx, (x, y) =>
                      if (x.compareTo(y) >= 0) x else y))
                }
              }
            }
          }
        }
      }
      val numLines = acc.toSeq.map { case (c, (rows, nulls, mn, mx)) =>
        s"#stats\t$dir\t$c\t$rows\t$nulls\t" +
          s"${mn.map(_.toString).getOrElse("")}\t" +
          s"${mx.map(_.toString).getOrElse("")}"
      }
      val b64 = java.util.Base64.getEncoder
      val strLines = sacc.toSeq.map { case (c, (rows, nulls, mn, mx)) =>
        val lo = mn.map(v =>
          b64.encodeToString(StrBounds.lower(v).getBytes))
        val hi = mx.flatMap(StrBounds.upper).map(v =>
          b64.encodeToString(v.getBytes))
        s"#stats\t$dir\t$c\tstr\t$rows\t$nulls\t" +
          s"${lo.getOrElse("")}\t${hi.getOrElse("")}"
      }
      val lines = numLines ++ strLines
      if (lines.isEmpty) sentinel else lines
    } catch {
      case scala.util.control.NonFatal(_) => sentinel
    }
  }

  /** Step 2 — the commit point: manifest to a tmp name, atomic rename to
    * `snap-<id>.manifest`. False = lost the id race (caller re-reads the
    * latest id and retries); throws only on real FS failure. */
  private[graft] def tryCommitManifest(spark: SparkSession, table: String,
                                         id: Long, dirs: Seq[String],
                                         directives: Seq[String] = Nil,
                                         bucketLine: Option[String] = None,
                                         inheritStatsFrom:
                                           Option[(String, Long)] = None)
      : Boolean = {
    val fs = fsFor(spark, table)
    fs.mkdirs(manifestDir(table))
    val dst = manifestPath(table, id)
    if (fs.exists(dst)) return false // a concurrent committer owns this id
    val tmp = new HPath(manifestDir(table),
      s"snap-$id.tmp-${java.util.UUID.randomUUID()}")
    // per-dir column stats (manifest v3, r17): a dir's files are
    // immutable, so lines are INHERITED from the predecessor manifest
    // when present and computed from footers only for dirs it does not
    // cover (new dirs; or every dir, once, on the first post-upgrade
    // commit over a legacy manifest)
    // predecessor lines win; inheritStatsFrom (branch seed /
    // fast-forward / rollback: the RE-REFERENCED manifest) fills dirs
    // the predecessor does not cover, so a publish of branch-written
    // dirs stays a pure manifest commit instead of re-reading their
    // footers (r19 review finding: the fallback must MERGE, not be
    // shadowed by a predecessor that lacks the new dirs)
    val predecessor: Map[String, Seq[String]] =
      if (id > 1 && fs.exists(manifestPath(table, id - 1)))
        manifestStats(spark, table, id - 1)
          .groupBy(_.split("\t", -1)(1))
      else Map.empty
    val inherited: Map[String, Seq[String]] = inheritStatsFrom
      .filter { case (t, i) => fs.exists(manifestPath(t, i)) }
      .map { case (t, i) =>
        manifestStats(spark, t, i).groupBy(_.split("\t", -1)(1))
      }.getOrElse(Map.empty)
    val prior = inherited ++ predecessor
    val statsLines = dirs.sorted.flatMap(d =>
      prior.getOrElse(d, computeStatsLines(spark, d)))
    val out = fs.create(tmp, false)
    // dirs sorted for determinism; directives keep their RECORDED order
    // (renames chain) and sit after the dirs; stats last
    try out.write(
      ((dirs.sorted ++ directives ++ bucketLine.toSeq ++ statsLines)
        .mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // Rename with EXPLICIT no-overwrite semantics (Options.Rename.NONE):
    // FileSystem.rename on a POSIX-backed store (RawLocalFileSystem, NFS)
    // delegates to rename(2), which silently REPLACES an existing dst —
    // two committers could then both "win" the same id and one manifest
    // (with its data references) would be clobbered. FileContext.rename
    // throws FileAlreadyExistsException instead, which is exactly the
    // lost-the-CAS signal. On HDFS/ABFS this is server-side atomic; on a
    // raw local FS a narrow check-then-rename window remains inside the
    // library — the same residual every rename-based table format accepts
    // there (production object stores want the conditional-put shim the
    // scaladoc names).
    try {
      org.apache.hadoop.fs.FileContext
        .getFileContext(dst.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        false
      case e: java.io.IOException if fs.exists(dst) =>
        // some FS implementations surface the existing-dst refusal as a
        // bare IOException — dst present means a concurrent winner
        fs.delete(tmp, false)
        false
    }
  }

  /** The one publish step: CAS the manifest at `base + 1` iff the latest
    * snapshot is still `base` (0 = a table with no commit yet). Some(id)
    * on success; None when any other commit landed first. A rewrite that
    * is a function of `base` (compact, a mutation, rollback) calls this
    * once: retrying it against a newer base would silently drop (or
    * resurrect) the concurrent commit's rows. */
  private[graft] def publish(spark: SparkSession, table: String, base: Long,
                             dirs: Seq[String], directives: Seq[String],
                             bucket: Option[Bucket],
                             inheritStatsFrom: Option[(String, Long)] = None)
      : Option[Long] =
    if (latest(spark, table).getOrElse(0L) == base &&
        tryCommitManifest(spark, table, base + 1, dirs, directives,
          bucketLineOf(bucket), inheritStatsFrom))
      Some(base + 1)
    else None

  /** The one bounded retry loop, for commits that stay correct on any base
    * (appends, full replaces, ALTERs): each attempt observes the latest
    * snapshot, re-checks its guards against it and publishes; None = lost
    * the race, so the next attempt observes a NEWER latest. */
  private[graft] def retryCommit[T](spark: SparkSession, table: String,
                                    writer: String)
                                   (attempt: Option[Long] => Option[T]): T = {
    var attempts = 0
    while (attempts < 64) {
      attempt(latest(spark, table)) match {
        case Some(done) => return done
        case None       => attempts += 1
      }
    }
    throw new IllegalStateException(
      s"$writer lost $attempts CAS races at $table — livelock?")
  }

  /** The one append guard, checked against the base an append lands on
    * (before the write, and again inside every retry — a concurrent
    * commit can change either between the two):
    *  - the recorded bucket layout must be the one the write routed for
    *    (`routed`): appending under a different `#bucket` line would mix
    *    routings, and a plain append would silently drop the line. A base
    *    with no data dirs has no rows to keep co-located.
    *  - no column a `drop` directive retired may ride along: reads mask it
    *    out, so its rows would be silently lost (r18). */
  private[graft] def guardAppend(spark: SparkSession, table: String,
                                 base: Option[Long], routed: Option[Bucket],
                                 columns: Seq[String], writer: String): Unit =
    base.foreach { b =>
      def layout(l: Option[Bucket]) =
        l.map { case (n, cols, _) => s"$n buckets on ${cols.mkString(",")}" }
          .getOrElse("unbucketed")
      val recorded = manifestBucket(spark, table, b)
      require(manifestDirs(spark, table, b).isEmpty ||
          recorded.map(l => (l._1, l._2)) == routed.map(l => (l._1, l._2)),
        s"$writer to $table wrote ${layout(routed)} but the table's bucket " +
        s"layout is ${layout(recorded)} — append with commitBucketed on " +
        "the recorded columns and bucket count, re-run it if the layout " +
        "changed meanwhile, or overwrite to replace the layout")
      val retired = droppedNames(manifestDirectives(spark, table, b))
        .intersect(columns.toSet)
      require(retired.isEmpty,
        s"$writer to $table carries dropped column(s) $retired — reads " +
        "mask them out; drop them from the frame, or compact the table " +
        "and re-add the column first")
    }

  /** Commit data dir `dir`, written for `layout`, as the next snapshot:
    * stacked onto the latest one (its dirs and directives carried, the
    * append guard checked) or, with `append = false`, as the whole table.
    * None only when `replayed` turns true (a twin committed the same
    * idempotent batch). */
  private[graft] def commitDir(spark: SparkSession, table: String,
                               dir: String, layout: Option[Bucket],
                               append: Boolean, columns: Seq[String],
                               writer: String,
                               replayed: => Boolean = false): Option[Long] =
    retryCommit(spark, table, writer) { base =>
      if (replayed) Some(None)
      else {
        // an append carries the base's evolution directives (old dirs
        // still need them applied); a full replace resets them — the table
        // IS the new frame, its schema carried by its own files
        val (visible, dirvs) =
          if (!append) (Nil, Nil)
          else {
            guardAppend(spark, table, base, layout, columns, writer)
            base.map(b => (manifestDirs(spark, table, b),
                           manifestDirectives(spark, table, b)))
              .getOrElse((Nil, Nil))
          }
        publish(spark, table, base.getOrElse(0L), visible :+ dir, dirvs,
          layout).map(Some(_))
      }
    }

  /** [[writeData]] + [[commitDir]]: an append is guarded before the write
    * too, so a refused one leaves no orphan dir behind. */
  private def commitFrame(df: DataFrame, table: String,
                          layout: Option[Bucket], append: Boolean,
                          maxRecordsPerFile: Long, writer: String,
                          intoDir: Option[String] = None,
                          replayed: => Boolean = false): Option[Long] = {
    val spark = df.sparkSession
    if (append)
      guardAppend(spark, table, latest(spark, table), layout, df.columns,
        writer)
    val dir = writeData(df, table, maxRecordsPerFile, layout,
      idDirectives = if (append) None else Some(Nil), intoDir)
    commitDir(spark, table, dir, layout, append, df.columns, writer, replayed)
  }

  /** Commit `df` as the next snapshot. `append = true` stacks onto the
    * latest committed manifest (ingest/compaction-input pattern);
    * `append = false` makes the new data the whole table (the atomic
    * full-replace the plain `mode("overwrite")` writer can't give —
    * readers see old-or-new, never a mid-delete mix). Returns the
    * committed snapshot id. A bucket-laid-out table only grows through
    * [[commitBucketed]] (an append here refuses); a full replace clears
    * the layout with the data. */
  def commit(df: DataFrame, table: String, append: Boolean = true,
             maxRecordsPerFile: Long = 1000000L): Long =
    commitFrame(df, table, None, append, maxRecordsPerFile,
      if (append) "append" else "overwrite").get

  /** Bucket-laid-out commit (r18) — the co-located-join layout (see
    * [[writeData]] for the routing and the file tags). With the
    * `#bucket` manifest line recorded, the V1 relation declares the
    * BucketSpec and Spark plans joins/aggregations on the bucket columns
    * across two same-(cols, n) tables WITHOUT an exchange — at 100 TB
    * this deletes the dominant shuffle of every fact-to-fact join; pick
    * `nBuckets` ≈ the cluster's target parallelism for the table's size
    * (buckets are the join's parallelism unit).
    *
    * Appends must match the recorded (cols, n) exactly; a first commit
    * (or `append = false`) establishes it. Plain [[commit]] appends
    * refuse; compact, ALTER, the row-level mutations, SQL INSERT and the
    * idempotent stream commit keep the layout. */
  def commitBucketed(df: DataFrame, table: String,
                     bucketCols: Seq[String], nBuckets: Int,
                     sortCols: Seq[String] = Nil,
                     append: Boolean = true,
                     maxRecordsPerFile: Long = 1000000L): Long = {
    require(bucketCols.nonEmpty && nBuckets >= 1,
      s"need bucket columns and nBuckets >= 1, got $bucketCols / $nBuckets")
    require((bucketCols ++ sortCols).forall(c =>
        !c.contains(",") && !c.contains("\t") && df.columns.contains(c)),
      s"bucket/sort columns must exist in the frame and be separator-" +
      s"free: ${bucketCols ++ sortCols} vs ${df.columns.toSeq}")
    commitFrame(df, table, Some((nBuckets, bucketCols, sortCols)), append,
      maxRecordsPerFile,
      if (append) "bucketed append" else "bucketed overwrite").get
  }

  /** Time-travel read: the table exactly as of committed snapshot `id`,
    * byte-stable regardless of later commits or in-flight writers.
    *
    * Schema evolution is first-class and MANIFEST-RECORDED (r15):
    * implicit additive evolution still works — snapshots written with
    * extra columns union into one schema (`mergeSchema`) and rows from
    * pre-evolution snapshots read the new columns as NULL, the Delta/
    * Iceberg add-column semantics without a rewrite of history — and
    * explicit [[addColumn]]/[[renameColumn]] directives recorded in the
    * manifest apply here in order (null-fill before any data carries the
    * column; rename-by-mapping across pre/post-rename directories).
    * Time travel honors evolution history: a readAt BEFORE the ALTER
    * snapshot sees the old schema byte-stable. Incompatible type changes
    * fail loudly at read (parquet footer merge), never silently coerce.
    * The cost is one footer read per file at planning; manifests bound
    * the file set so this is snapshot-sized, not directory-listing-sized. */
  def readAt(spark: SparkSession, table: String, id: Long): DataFrame =
    applyDirectives(
      readMergedRaw(spark, manifestDirs(spark, table, id)),
      manifestDirectives(spark, table, id))

  /** ALTER TABLE ... ADD COLUMN, recorded in the manifest (r15 — no data
    * rewrite, no history mutation): the commit is one new manifest whose
    * data dirs are unchanged and whose directive list grows by one. The
    * column reads as a typed NULL from every directory that predates it
    * and flows through once writers start carrying it; every snapshot
    * BEFORE the returned id is readAt-byte-stable. Commits through
    * [[retryCommit]]. Returns the ALTER's snapshot id. */
  def addColumn(spark: SparkSession, table: String, name: String,
                typeDdl: String): Long = {
    require(name.nonEmpty && typeDdl.nonEmpty &&
      !name.contains("\t") && !typeDdl.contains("\t") &&
      !name.contains("\n") && !typeDdl.contains("\n"),
      "column name/type must be non-empty and tab/newline-free")
    evolve(spark, table, s"#schema\tadd\t$name\t$typeDdl", (schema, dirvs) => {
      require(!schema.fieldNames.contains(name),
        s"column $name already exists at $table")
      require(!droppedNames(dirvs).contains(name),
        s"column $name was dropped at $table — run SnapshotLake.compact " +
        "to materialize the removal before reusing the name")
    })
  }

  /** ALTER TABLE ... RENAME COLUMN — rename-by-mapping (r15): pre-rename
    * directories keep the old physical name and map to the new one at
    * read; post-rename writes carry the new name directly. History stays
    * byte-stable; UPDATE/DELETE/MERGE predicates resolve the new name
    * against every directory. Returns the ALTER's snapshot id. */
  def renameColumn(spark: SparkSession, table: String, from: String,
                   to: String): Long = {
    require(from.nonEmpty && to.nonEmpty && from != to &&
      !from.contains("\t") && !to.contains("\t") &&
      !from.contains("\n") && !to.contains("\n"),
      "column names must be distinct, non-empty and tab/newline-free")
    latest(spark, table).flatMap(manifestBucket(spark, table, _))
      .foreach { case (_, cols, sortCols) =>
        require(!(cols ++ sortCols).contains(from),
          s"column $from is part of $table's bucket layout — compact " +
          "away the layout (overwrite unbucketed) before renaming it")
      }
    evolve(spark, table, s"#schema\trename\t$from\t$to", (schema, dirvs) => {
      require(schema.fieldNames.contains(from),
        s"no column $from at $table")
      require(!schema.fieldNames.contains(to),
        s"column $to already exists at $table")
      require(!droppedNames(dirvs).contains(to),
        s"column $to was dropped at $table — run SnapshotLake.compact " +
        "to materialize the removal before reusing the name")
    })
  }

  /** ALTER TABLE ... DROP COLUMN — drop-by-mapping (r18, VERDICT r17
    * item 3): one new manifest whose data dirs are unchanged and whose
    * directive list grows by a `drop` line; reads mask the column out
    * from every directory (history before the ALTER stays readAt-
    * byte-stable), appends carrying the column refuse loudly, and the
    * name stays RESERVED — re-add/re-rename-to it is refused until
    * [[compact]] rewrites the data without the column and clears the
    * directive chain (reusing the name earlier would collide with the
    * masked physical column in pre-drop directories at merged read).
    * Commits through [[retryCommit]]. Returns the ALTER's snapshot
    * id. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    require(name.nonEmpty && !name.contains("\t") && !name.contains("\n"),
      "column name must be non-empty and tab/newline-free")
    latest(spark, table).flatMap(manifestBucket(spark, table, _))
      .foreach { case (_, cols, sortCols) =>
        require(!(cols ++ sortCols).contains(name),
          s"column $name is part of $table's bucket layout — compact " +
          "away the layout (overwrite unbucketed) before dropping it")
      }
    evolve(spark, table, s"#schema\tdrop\t$name", (schema, _) => {
      require(schema.fieldNames.contains(name),
        s"no column $name at $table")
      require(schema.fieldNames.length > 1,
        s"cannot drop the only column of $table")
    })
  }

  private def evolve(spark: SparkSession, table: String, directive: String,
                     validate: (org.apache.spark.sql.types.StructType,
                                Seq[String]) => Unit): Long =
    retryCommit(spark, table, "schema evolution") { latestId =>
      val base = latestId.getOrElse(throw noSnapshot(table))
      val dirs = manifestDirs(spark, table, base)
      val dirvs = manifestDirectives(spark, table, base)
      validate(evolvedSchema(spark, dirs, dirvs), dirvs)
      // an ALTER rewrites no data, so a recorded bucket layout survives
      // verbatim (r18); renaming/dropping a BUCKET column is refused in
      // the respective entry points — the recorded names must stay live
      publish(spark, table, base, dirs, dirvs :+ directive,
        manifestBucket(spark, table, base))
    }

  /** Read the latest committed snapshot. */
  def readLatest(spark: SparkSession, table: String): DataFrame =
    readAt(spark, table, requireLatest(spark, table))

  /** Incremental (CDC-ish) read: the rows ADDED between committed
    * snapshots `fromId` (exclusive) and `toId` (inclusive) — i.e. the
    * data directories `toId` references that `fromId` does not. For an
    * append-only history this is exactly the delta a downstream consumer
    * needs to catch up without rescanning the table (the dedupCycle /
    * ingest checkpoint pattern). A full-replace or [[compact]] commit in
    * the range makes the dir-diff read rewritten-old rows as "new" —
    * callers that mix replaces into the history should checkpoint against
    * [[readAt]] instead; this method is the append-only fast path. */
  def readIncremental(spark: SparkSession, table: String,
                      fromId: Long, toId: Long): DataFrame = {
    require(fromId <= toId, s"fromId $fromId > toId $toId")
    val newDirs = manifestDirs(spark, table, toId)
      .diff(manifestDirs(spark, table, fromId))
    if (newDirs.isEmpty) spark.emptyDataFrame
    else readMergedRaw(spark, newDirs)
  }

  /** Data-quality drift audit between two committed snapshots: per
    * column in `cols`, row count, null count, and exact distinct count
    * at snapshot `fromId` vs `toId`, plus the deltas a drift monitor
    * alerts on (distinct growth, null-rate movement) — the check a lake
    * runs BEFORE promoting a snapshot to consumers. Output shape is
    * byte-identical to the q_snapshot_drift contract key (shared
    * [[graft.ops.Lakehouse.driftRow]] builder; LakeSinkSpec pins the
    * equivalence on a cumulative pair). Each side is ONE scan of its
    * snapshot's manifest-bounded file set, map-side-combinable
    * (multi-distinct plans as one Expand); the two 1-row stat frames
    * cross-join trivially. At 100 TB the cost is a pass over each
    * audited snapshot — swap `countDistinct` for
    * `approx_count_distinct` when exactness isn't contractual.
    * `cols` must exist in both snapshots (schema-evolution additions
    * audit from their first snapshot onward). */
  def audit(spark: SparkSession, table: String, fromId: Long, toId: Long,
            cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "audit needs at least one column")
    def stats(df: DataFrame, tag: String): DataFrame = {
      val aggs = Seq(count(lit(1)).as(s"rows_$tag")) ++ cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_${tag}_$c"),
            countDistinct(col(c)).as(s"d_${tag}_$c"))
      }
      df.agg(aggs.head, aggs.tail: _*)
    }
    stats(readAt(spark, table, fromId), "a")
      .crossJoin(stats(readAt(spark, table, toId), "b"))
      .select(explode(array(cols.map(graft.ops.Lakehouse.driftRow): _*))
        .as("r"))
      .select(col("r.*")).orderBy(col("col_name"))
  }

  /** Idempotent append: commit `df` as the next snapshot UNLESS a
    * committed snapshot already carries `dedupKey` — the transactional-
    * writer pattern (Delta's (appId, version), Iceberg's WAP id) that
    * turns a replayed delivery into a no-op WITHOUT a side ledger.
    *
    * The key IS the data directory name (`data/<dedupKey>`), so "was this
    * delivery committed?" = "does any retained manifest reference the
    * dir" — checked before writing AND re-checked at every
    * [[retryCommit]] attempt, so
    * a zombie writer that lost a race to its own twin sees the twin's
    * commit and stops. A crashed half-write leaves `data/<dedupKey>`
    * unreferenced; the retry deletes and rewrites it (safe precisely
    * because unreferenced dirs are invisible to every reader).
    *
    * Returns the committed id, or None when the key was already in the
    * table (the replay case). Residual, shared with every txn-log design:
    * the dedup memory is the retained manifest set, so a replay delayed
    * past [[expire]]'s retention of EVERY snapshot that referenced the
    * key can re-commit it — retention must exceed maximum replay lag. */
  def commitIdempotent(df: DataFrame, table: String, dedupKey: String,
                       maxRecordsPerFile: Long = 1000000L): Option[Long] = {
    require(dedupKey.matches("[A-Za-z0-9._=-]+"), s"unsafe dedupKey $dedupKey")
    val spark = df.sparkSession
    val fs = fsFor(spark, table)
    val dir = s"$table/data/$dedupKey"
    def committedIds: Seq[Long] = snapshots(spark, table)
      .filter(id => manifestDirs(spark, table, id).contains(dir))
    if (committedIds.nonEmpty) return None
    // crashed half-write of the same key: unreferenced ⇒ invisible ⇒
    // safe to clear and rewrite
    fs.delete(new HPath(dir), true)
    // a bucket-laid-out table keeps its layout through streaming ingest
    // (r19): each micro-batch routes through the bucket function into
    // tagged files and the commit carries the line — co-located joins
    // keep working while the stream runs; a layout change racing the
    // batch fails the append guard, and the replayed batch re-routes
    val bucket = latest(spark, table).flatMap(manifestBucket(spark, table, _))
    // `replayed` is re-checked at every attempt: a twin zombie may have
    // won the key meanwhile
    commitFrame(df, table, bucket, append = true, maxRecordsPerFile,
      s"idempotent append $dedupKey", intoDir = Some(dir),
      replayed = committedIds.nonEmpty)
  }

  /** OPTIMIZE: rewrite the CURRENT table contents as one fresh data
    * directory (bin-packing the accumulated per-commit small files into
    * `maxRecordsPerFile`-bounded ones) and commit it as a full-replace
    * snapshot — IF AND ONLY IF no other commit landed meanwhile.
    *
    * Correctness is the optimistic-concurrency rule every table format
    * uses for rewrites: the compacted data is a function of snapshot N,
    * so it may only become snapshot N+1. Losing the CAS (or observing a
    * different latest at commit time) means a concurrent append landed —
    * retrying with the stale rewrite would SILENTLY DROP those rows, so
    * compaction aborts, returns None, and leaves its orphan directory
    * unreferenced (invisible, reclaimed by [[expire]]'s GC). Callers
    * re-run compaction when the table quiesces; appenders never wait.
    *
    * Readers are unaffected throughout: old manifests stay immutable, so
    * a time-travel read of any pre-compaction snapshot still sees the
    * original small files until [[expire]] reclaims them. */
  def compact(spark: SparkSession, table: String,
              maxRecordsPerFile: Long = 1000000L): Option[Long] =
    compactFrom(spark, table, requireLatest(spark, table), maxRecordsPerFile)

  /** The rewrite-then-CAS half of [[compact]], split out so the
    * concurrent-append race (a commit landing between observing `base`
    * and the manifest rename) is testable deterministically. */
  private[graft] def compactFrom(spark: SparkSession, table: String,
                                 base: Long,
                                 maxRecordsPerFile: Long): Option[Long] = {
    // a bucket-laid-out table compacts PER the recorded layout (r18, the
    // Delta-OPTIMIZE-keeps-clustering rule): appends accumulate one dir
    // per commit — n files per bucket per dir — and this bin-packs them
    // back to one dir without losing the co-located-join property
    val bucket = manifestBucket(spark, table, base)
    // Evolution directives are deliberately DROPPED: readAt materializes
    // them into the rewritten files (whose ids therefore hash the current
    // names), so carrying them forward would be a no-op at best and a
    // re-rename hazard at worst.
    val dir = writeData(readAt(spark, table, base), table, maxRecordsPerFile,
      bucket, idDirectives = Some(Nil))
    publish(spark, table, base, Seq(dir), Nil, bucket)
  }

  /** Bit-interleaved z-curve value over `cols` (each masked to `bits`
    * low bits) — the same curve the q_zorder contract key computes for
    * its 2-D tile audit, generalized to N dimensions: column j's bit i
    * lands at position i·N+j, so a contiguous z-range confines EVERY
    * interleaved dimension to a bounded envelope. Pure narrow integer
    * math (shifts/masks), codegen-friendly. */
  private def zValue(cols: Seq[org.apache.spark.sql.Column],
                     bits: Int): org.apache.spark.sql.Column = {
    val n = cols.length
    val masked = cols.map(c => pmod(c.cast("long"), lit(1L << bits)))
    (0 until bits).flatMap { i =>
      masked.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ + _)
  }

  /** Z-ORDER layout pass (r15, VERDICT r14 item 8 — the executable form
    * of SCALE.md's z-order row): rewrite the latest snapshot
    * `repartitionByRange`-partitioned and sorted on the z-curve of
    * `zCols`, one [[publish]] at base + 1 like [[compact]]. What
    * it buys at 100 TB: each written file covers one contiguous z-range,
    * so its parquet min/max stats confine EVERY clustered column to a
    * bounded envelope — scans filtered on ANY of the zCols (not just a
    * lead sort key) skip files/row-groups via pushed predicates.
    * One range shuffle; evolution directives materialize like
    * [[compact]]. Returns None on a lost CAS race. */
  def compactZOrder(spark: SparkSession, table: String, zCols: Seq[String],
                    bits: Int = 8, targetFiles: Int = 0,
                    maxRecordsPerFile: Long = 1000000L): Option[Long] = {
    require(zCols.nonEmpty && bits >= 1 && bits <= 20,
      "z-order needs >= 1 column and 1..20 bits per dimension")
    // The interleave lives in ONE long: bit position i*n+j must stay < 63
    // (Java masks a long shift count to 6 bits, so an overflowing position
    // silently wraps and COLLIDES with a low bit — the file-envelope
    // guarantee would degrade while the pass reports success; r16 advisor
    // item). 4 cols × 20 bits = position 79 is the failing example.
    require(bits * zCols.length <= 63,
      s"bits*zCols = ${bits * zCols.length} exceeds the 63-bit z-value " +
      s"budget — reduce bits to ${63 / zCols.length} or fewer")
    val base = requireLatest(spark, table)
    val df = readAt(spark, table, base)
    val withZ = df.withColumn("__z", zValue(zCols.map(col), bits))
    // explicit targetFiles pins the range-partition count (AQE coalesces
    // the default form on small tables — fine at 100 TB, defeating for a
    // layout test); 0 = let the session/AQE size it
    val ranged =
      if (targetFiles > 0) withZ.repartitionByRange(targetFiles, col("__z"))
      else withZ.repartitionByRange(col("__z"))
    val laid = ranged.sortWithinPartitions(col("__z")).drop("__z")
    // materializes directives like compact — current-name-hash ids
    val dir = writeData(laid, table, maxRecordsPerFile,
      idDirectives = Some(Nil))
    publish(spark, table, base, Seq(dir), Nil, None)
  }

  /** Row-level DELETE — [[copyOnWrite]] at data-directory granularity.
    * SQL DELETE semantics: rows where `predicate` is TRUE go; FALSE
    * **and NULL** stay (the keep-filter is null-safe `!(p <=> true)`,
    * not `!p` — plain negation would silently delete every
    * NULL-predicate row). Returns Some(base) untouched when nothing
    * matches, None on a lost race.
    *
    * At 100 TB: the per-directory existence probes are limit-1 scans
    * with the predicate pushed to parquet stats (row groups that can't
    * match never read), so an equality delete on a clustered/z-ordered
    * column prunes most of the table before any rewrite. */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             maxRecordsPerFile: Long = 1000000L): Option[Long] =
    deleteFrom(spark, table, requireLatest(spark, table), predicate,
      maxRecordsPerFile)

  /** Read `dirs` aligned to the snapshot's full merged schema: columns a
    * pre-evolution directory lacks come back as typed NULLs in merged-
    * schema order, so a DELETE predicate / MERGE key referencing a
    * column added by additive evolution evaluates (to its NULL
    * semantics) instead of throwing AnalysisException on old
    * directories (r12 ADVICE item 2 — mergeSchema alone cannot conjure
    * a column NO read file carries). Filters on present columns still
    * push to parquet (plain alias passthrough); filters on the
    * null-filled ones constant-fold per directory. */
  private def readAligned(spark: SparkSession, dirs: Seq[String],
                          directives: Seq[String],
                          full: org.apache.spark.sql.types.StructType): DataFrame = {
    // recorded evolution applies BEFORE alignment so a predicate on a
    // renamed column resolves against pre-rename directories too
    val df = applyDirectives(readMergedRaw(spark, dirs), directives)
    val have = df.columns.toSet
    df.select(full.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** The table's EVOLVED schema at `base` — merged parquet union with the
    * recorded directives applied (what [[readAt]] serves). */
  private def evolvedSchema(spark: SparkSession, dirs: Seq[String],
                            directives: Seq[String]) =
    applyDirectives(readMergedRaw(spark, dirs), directives).schema

  /** What one copy-on-write mutation supplies: `probe` keeps a dir's
    * matching rows (any row marks the dir affected), `rewrite` maps the
    * affected dirs' rows to what survives, `insert` lands one more dir
    * (merge's source) and `addDirectives` extend the chain in the same
    * commit. */
  private case class Rewrite(probe: DataFrame => DataFrame,
                             rewrite: DataFrame => DataFrame,
                             insert: Option[DataFrame] = None,
                             addDirectives: Seq[String] = Nil)

  /** The one copy-on-write rewrite (the Delta/Iceberg CoW shape at
    * data-directory granularity) behind [[delete]], [[update]] and
    * [[merge]]. It resolves dirs, directives, evolved schema
    * and bucket layout at `base`, lets `plan` validate against them and
    * name the [[Rewrite]], probes each dir, carries the untouched dirs
    * into the new manifest by identity (their files keep identity for
    * expire/readIncremental and cost zero rewrite I/O), rewrites the
    * affected ones into one dir routed through the SAME bucket function
    * (r19: the co-located-join property holds across mutations) and
    * publishes at exactly base + 1. Some(base) when nothing is affected
    * and nothing inserts; None on a lost race — the orphaned rewrite dir
    * is invisible and GC'd by [[expire]]. */
  private def copyOnWrite(spark: SparkSession, table: String, base: Long,
                          maxRecordsPerFile: Long)
                         (plan: (org.apache.spark.sql.types.StructType,
                                 Seq[String]) => Rewrite): Option[Long] = {
    val dirs = manifestDirs(spark, table, base)
    val dirvs = manifestDirectives(spark, table, base)
    val full = evolvedSchema(spark, dirs, dirvs)
    val bucket = manifestBucket(spark, table, base)
    val m = plan(full, dirvs)
    val affected = dirs.filter(d =>
      !m.probe(readAligned(spark, Seq(d), dirvs, full)).isEmpty)
    if (affected.isEmpty && m.insert.isEmpty) return Some(base)
    def write(df: DataFrame) =
      writeData(df, table, maxRecordsPerFile, bucket)
    val kept = dirs.diff(affected)
    val rewritten =
      if (affected.isEmpty) None
      else {
        val rows = m.rewrite(readAligned(spark, affected, dirvs, full))
        // an empty rewrite writes no part files and would break schema
        // inference at read — materialize one schema-bearing empty file
        // only when it is the ONLY directory left in the table
        if (!rows.isEmpty) Some(write(rows))
        else if (kept.isEmpty && m.insert.isEmpty)
          Some(write(rows.repartition(1)))
        else None
      }
    publish(spark, table, base, kept ++ rewritten ++ m.insert.map(write),
      dirvs ++ m.addDirectives, bucket)
  }

  /** The base-parameterized half of [[delete]], so the concurrent-commit
    * race is testable deterministically. */
  private[graft] def deleteFrom(spark: SparkSession, table: String,
                                base: Long,
                                predicate: org.apache.spark.sql.Column,
                                maxRecordsPerFile: Long): Option[Long] =
    copyOnWrite(spark, table, base, maxRecordsPerFile)((_, _) =>
      Rewrite(_.filter(predicate), _.filter(!(predicate <=> lit(true)))))

  /** Row-level UPDATE — the third CoW mutation (r13 verdict item 6),
    * [[copyOnWrite]] like [[delete]]: each affected directory rewrites
    * with the SET expressions applied to the predicate-TRUE rows only
    * (FALSE **and NULL** rows pass through unchanged — SQL UPDATE ...
    * WHERE semantics, the null-safe `p <=> true` gate [[delete]]
    * documents). SET values cast to the column's existing type; only
    * existing columns may be set (schema evolution is [[commit]]'s job,
    * not UPDATE's); a SET that touches a bucket column re-routes the
    * updated rows to their new buckets. None on a lost race
    * (LakeSinkSpec races two live writers and asserts exactly one wins);
    * Some(base) untouched when nothing matches. */
  def update(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column],
             maxRecordsPerFile: Long = 1000000L): Option[Long] =
    updateFrom(spark, table, requireLatest(spark, table), predicate, set,
      maxRecordsPerFile)

  private[graft] def updateFrom(spark: SparkSession, table: String,
                                base: Long,
                                predicate: org.apache.spark.sql.Column,
                                set: Map[String, org.apache.spark.sql.Column],
                                maxRecordsPerFile: Long): Option[Long] = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    copyOnWrite(spark, table, base, maxRecordsPerFile) { (full, _) =>
      val missing = set.keySet.diff(full.fieldNames.toSet)
      require(missing.isEmpty,
        s"UPDATE may only set existing columns; unknown: $missing")
      val hit = predicate <=> lit(true)
      Rewrite(_.filter(predicate), _.select(full.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*))
    }
  }

  /** Row-level MERGE (SCD-1 upsert as a LAKE MUTATION — q_upsert is the
    * query shape, this is the table write): every target row whose
    * `keys` match a source row is REPLACED by that source row; unmatched
    * source rows INSERT; unmatched target rows keep. [[copyOnWrite]]
    * like [[delete]]: a directory with no key hit (probed via a
    * broadcast semi join against the source keys — the change set is the
    * small side by construction) survives untouched; affected
    * directories rewrite via an anti join on `keys`; the source lands as
    * one new directory, bucket-routed like every other. `source` must be
    * key-unique and schema-compatible with the table (additive columns
    * merge at read). None on a lost race. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
            keys: Seq[String],
            maxRecordsPerFile: Long = 1000000L): Option[Long] =
    mergeFrom(spark, table, requireLatest(spark, table), source, keys,
      maxRecordsPerFile)

  private[graft] def mergeFrom(spark: SparkSession, table: String,
                               base: Long, source: DataFrame,
                               keys: Seq[String],
                               maxRecordsPerFile: Long): Option[Long] = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val src = source.localCheckpoint(false) // one evaluation feeds probes, anti join, and the insert write
    if (src.isEmpty) return Some(base) // empty change set: no-op, no snapshot
    val srcKeys = broadcast(src.select(keys.map(col): _*).distinct())
    copyOnWrite(spark, table, base, maxRecordsPerFile) { (full, dirvs) =>
      // schema evolution at MERGE (r19, the Delta mergeSchema shape):
      // a shared column whose type conflicts refuses loudly UP FRONT
      // (pre-r19 it surfaced as a parquet footer-merge error at the next
      // read — after the bad dir had landed); a source-only column
      // auto-ALTERs — an add directive recorded IN THE SAME commit, so
      // old directories serve it as a typed NULL and time travel before
      // the merge stays byte-stable
      val fullByName = full.fields.map(f => f.name -> f).toMap
      val conflicts = src.schema.fields.flatMap(sf =>
        fullByName.get(sf.name).collect {
          case tf if !org.apache.spark.sql.types.DataType
              .equalsIgnoreNullability(tf.dataType, sf.dataType) =>
            s"${sf.name}: table ${tf.dataType.sql} vs source " +
              s"${sf.dataType.sql}"
        })
      require(conflicts.isEmpty,
        s"MERGE source type conflict at $table — " +
        conflicts.mkString("; ") +
        "; cast the source column or evolve the table explicitly")
      val extras = src.schema.fields.filterNot(f => fullByName.contains(f.name))
      val retiredExtras = droppedNames(dirvs)
        .intersect(extras.map(_.name).toSet)
      require(retiredExtras.isEmpty,
        s"MERGE source carries dropped column(s) $retiredExtras at $table " +
        "— reads mask them out; compact the table before reusing the name")
      require(extras.forall(f =>
          !f.name.contains("\t") && !f.name.contains("\n")),
        s"evolved column names must be tab/newline-free: " +
        extras.map(_.name).toSeq)
      Rewrite(_.join(srcKeys, keys, "left_semi"),
        _.join(srcKeys, keys, "left_anti"), insert = Some(src),
        addDirectives = extras.map(f =>
          s"#schema\tadd\t${f.name}\t${f.dataType.sql}").toSeq)
    }
  }

  /** ROLLBACK (r19): restore the table head to the state of an earlier
    * committed snapshot — AS A NEW COMMIT, never by deleting history
    * (the Iceberg rollback shape). The new manifest re-references the
    * target's data directories, evolution directives and `#bucket`
    * layout line verbatim, so reads after the rollback ≡
    * `readAt(target)` (bucket co-location included) while every
    * intermediate snapshot stays time-travel-readable and the bad
    * head remains inspectable. Shared dirs inherit their stats lines
    * byte-for-byte; dirs the current head no longer references get
    * footer-recomputed lines (immutable dirs — identical values).
    * One [[publish]] at base + 1: None on a lost race. Rolling back to
    * the current head is a recorded no-op (returns the head, commits
    * nothing). The target must still be a committed snapshot — expired
    * snapshots refuse loudly. */
  def rollback(spark: SparkSession, table: String, to: Long)
      : Option[Long] =
    rollbackFrom(spark, table, requireLatest(spark, table), to)

  /** The check-then-CAS half of [[rollback]], split out (like
    * [[compactFrom]]) so the concurrent-commit race is testable
    * deterministically. */
  private[graft] def rollbackFrom(spark: SparkSession, table: String,
                                  base: Long, to: Long): Option[Long] = {
    require(snapshots(spark, table).contains(to),
      s"no committed snapshot $to at $table (expired or never " +
      "committed) — rollback needs a live manifest to restore")
    if (to == base) Some(base)
    else publish(spark, table, base, manifestDirs(spark, table, to),
      manifestDirectives(spark, table, to), manifestBucket(spark, table, to),
      inheritStatsFrom = Some((table, to)))
  }

  /** VACUUM: retain only the last `keepLast` snapshots, then delete every
    * data directory no retained manifest references (compacted-away
    * originals, crashed half-writes, aborted compactions).
    *
    * Deletion order is the crash-safe one — manifests FIRST, then
    * unreferenced data: a crash mid-way leaves either extra manifests
    * (nothing lost) or unreferenced dirs (invisible garbage for the next
    * expire), never a manifest pointing at deleted data. The residual
    * every table format documents: a reader that planned a time-travel
    * scan of an expired snapshot before the expire ran can lose files
    * mid-read — retention must exceed the longest running query. */
  def expire(spark: SparkSession, table: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must retain at least the latest snapshot")
    val fs = fsFor(spark, table)
    val all = snapshots(spark, table)
    // tagged snapshots are retained regardless of keepLast (r19): a tag
    // is a promise the snapshot stays readable — manifest AND data
    val tagged = tags(spark, table).values.toSet
    val keep = all.takeRight(keepLast).toSet ++ tagged.filter(all.contains)
    val dropped = all.filterNot(keep)
    dropped.foreach(id => fs.delete(manifestPath(table, id), false))
    // live branches keep every dir they reference (r19): a branch's
    // seed re-references main data dirs that main's retained chain may
    // no longer mention
    val branchLive = branches(spark, table).keys.flatMap { b =>
      val root = branchRoot(table, b)
      snapshots(spark, root).flatMap(manifestDirs(spark, root, _))
    }.toSet
    // ... and the OTHER direction (r19): expiring a BRANCH root must
    // keep every dir the PARENT table's chain references — after a
    // fastForward, main points at dirs under <root>/data, which a
    // later branch compact would otherwise orphan from the branch's
    // own manifests and this expire would delete out from under main
    val BranchRootRe = "(.*)/refs/branch-[A-Za-z][A-Za-z0-9._-]*$".r
    val parentLive = table match {
      case BranchRootRe(parent) =>
        snapshots(spark, parent)
          .flatMap(manifestDirs(spark, parent, _)).toSet
      case _ => Set.empty[String]
    }
    val live = all.filter(keep)
      .flatMap(manifestDirs(spark, table, _)).toSet ++ branchLive ++
      parentLive
    val dataRoot = new HPath(s"$table/data")
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).foreach { st =>
        val dir = st.getPath
        if (!live.contains(dir.toUri.getPath) &&
            !live.exists(_.endsWith(dir.getName)))
          fs.delete(dir, true)
      }
    }
  }
}
