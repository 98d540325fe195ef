package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType,
  LongType, StringType, StructField, StructType}

/** SQL maintenance procedures (r18, VERDICT r17 item 7) — the
  * `CALL`-style entry points a Delta/Iceberg operator expects, served
  * through Spark 4's DSv2 `ProcedureCatalog`:
  *
  * {{{
  *   CALL graftlake.system.compact(table => '/t')
  *   CALL graftlake.system.expire(table => '/t', keep_last => 3)
  *   CALL graftlake.system.zorder(table => '/t', cols => 'k,v', bits => 8)
  * }}}
  *
  * Each procedure IS its object-API twin ([[SnapshotLake.compact]],
  * [[SnapshotLake.expire]], [[SnapshotLake.compactZOrder]]) — same CAS
  * discipline, surfaced in the result row instead of an Option:
  * `(committed BOOLEAN, snapshot_id BIGINT)` where a lost optimistic-
  * concurrency race reads `(false, NULL)` and the statement is safe to
  * re-run (the losing rewrite is an invisible orphan, GC'd by expire —
  * exactly the object API's contract). `expire` returns the retained snapshot count. */
private[graft] object GraftProcedures {

  private def spark: SparkSession = SparkSession.active

  /** One procedure = one object: unbound and bound are the same thing
    * (binding validates nothing the parameter declarations don't). */
  private abstract class Proc(procName: String, desc: String,
                              params: Seq[ProcedureParameter],
                              out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    protected def run(args: InternalRow): Array[InternalRow]
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val result = run(input)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType,
                        default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private val casResult = StructType(Seq(
    StructField("committed", BooleanType, nullable = false),
    StructField("snapshot_id", LongType, nullable = true)))

  private def casRow(r: Option[Long]): Array[InternalRow] = Array(
    new GenericInternalRow(Array[Any](r.isDefined,
      r.map(Long.box).orNull)))

  private object Compact extends Proc("compact",
    "bin-pack the table into one fresh snapshot (SnapshotLake.compact)",
    Seq(in("table", StringType),
      inDefault("max_records_per_file", LongType, "1000000")),
    casResult) {
    override protected def run(args: InternalRow): Array[InternalRow] =
      casRow(SnapshotLake.compact(spark, args.getUTF8String(0).toString,
        args.getLong(1)))
  }

  private object Expire extends Proc("expire",
    "retain the last keep_last snapshots and GC unreferenced data " +
      "(SnapshotLake.expire)",
    Seq(in("table", StringType), in("keep_last", IntegerType)),
    StructType(Seq(
      StructField("snapshots_retained", IntegerType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val table = args.getUTF8String(0).toString
      SnapshotLake.expire(spark, table, args.getInt(1))
      Array(new GenericInternalRow(Array[Any](
        SnapshotLake.snapshots(spark, table).length)))
    }
  }

  private object ZOrder extends Proc("zorder",
    "rewrite the table z-curve-clustered on cols " +
      "(SnapshotLake.compactZOrder; cols is comma-separated)",
    Seq(in("table", StringType), in("cols", StringType),
      inDefault("bits", IntegerType, "8"),
      inDefault("target_files", IntegerType, "0"),
      inDefault("max_records_per_file", LongType, "1000000")),
    casResult) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val cols = args.getUTF8String(1).toString.split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      casRow(SnapshotLake.compactZOrder(spark,
        args.getUTF8String(0).toString, cols, args.getInt(2),
        args.getInt(3), args.getLong(4)))
    }
  }

  private object History extends Proc("history",
    "snapshot history: one row per committed snapshot (the DESCRIBE " +
      "HISTORY analog) — id, commit time, dir/directive counts",
    Seq(in("table", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at",
        org.apache.spark.sql.types.TimestampType, nullable = false),
      StructField("n_dirs", IntegerType, nullable = false),
      StructField("n_directives", IntegerType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val table = args.getUTF8String(0).toString
      SnapshotLake.snapshotTimes(spark, table).map { case (id, millis) =>
        new GenericInternalRow(Array[Any](id, millis * 1000L,
          SnapshotLake.manifestDirs(spark, table, id).length,
          SnapshotLake.manifestDirectives(spark, table, id).length))
          : InternalRow
      }.toArray
    }
  }

  private object Tag extends Proc("tag",
    "pin a committed snapshot under an immutable name " +
      "(SnapshotLake.tag; read back via VERSION AS OF 'name'; expire " +
      "retains tagged snapshots)",
    Seq(in("table", StringType), in("name", StringType),
      inDefault("snapshot_id", LongType, "-1")),
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val table = args.getUTF8String(0).toString
      val name = args.getUTF8String(1).toString
      // default -1 = tag the latest committed snapshot
      val id =
        if (args.getLong(2) >= 0) args.getLong(2)
        else SnapshotLake.requireLatest(spark, table)
      SnapshotLake.tag(spark, table, name, id)
      Array(new GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(name), id)))
    }
  }

  private object DropTag extends Proc("drop_tag",
    "remove a named snapshot tag (SnapshotLake.dropTag; the snapshot " +
      "returns to the normal expire retention rule)",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] =
      Array(new GenericInternalRow(Array[Any](
        SnapshotLake.dropTag(spark, args.getUTF8String(0).toString,
          args.getUTF8String(1).toString))))
  }

  private object Rollback extends Proc("rollback",
    "restore the table head to an earlier committed snapshot as a NEW " +
      "commit (SnapshotLake.rollback; history stays time-travelable, " +
      "the bad head stays inspectable; None-on-race surfaces as " +
      "committed = -1)",
    Seq(in("table", StringType), in("snapshot_id", LongType)),
    StructType(Seq(
      StructField("committed_snapshot_id", LongType, nullable = false),
      StructField("restored_from", LongType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val table = args.getUTF8String(0).toString
      val to = args.getLong(1)
      Array(new GenericInternalRow(Array[Any](
        SnapshotLake.rollback(spark, table, to).getOrElse(-1L), to)))
    }
  }

  private object Branch extends Proc("branch",
    "fork the current head into a writable branch rooted at " +
      "<table>/refs/branch-<name> (zero data copy; write to it as an " +
      "ordinary graftlake table, then fast_forward publishes)",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("forked_from", LongType, nullable = false),
      StructField("branch_root", StringType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] = {
      val table = args.getUTF8String(0).toString
      val name = args.getUTF8String(1).toString
      val fork = SnapshotLake.branch(spark, table, name)
      Array(new GenericInternalRow(Array[Any](fork,
        org.apache.spark.unsafe.types.UTF8String.fromString(
          SnapshotLake.branchRoot(table, name)))))
    }
  }

  private object FastForward extends Proc("fast_forward",
    "publish a branch head to main as one commit (refuses loudly if " +
      "main advanced past the fork; committed = -1 on a lost CAS race)",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("committed_snapshot_id", LongType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] =
      Array(new GenericInternalRow(Array[Any](
        SnapshotLake.fastForward(spark, args.getUTF8String(0).toString,
          args.getUTF8String(1).toString).getOrElse(-1L))))
  }

  private object DropBranch extends Proc("drop_branch",
    "drop a branch: manifests go, data dirs the main chain references " +
      "survive, branch-private dirs are reclaimed",
    Seq(in("table", StringType), in("name", StringType)),
    StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))) {
    override protected def run(args: InternalRow): Array[InternalRow] =
      Array(new GenericInternalRow(Array[Any](
        SnapshotLake.dropBranch(spark, args.getUTF8String(0).toString,
          args.getUTF8String(1).toString))))
  }

  private val all: Seq[Proc] =
    Seq(Compact, Expire, ZOrder, History, Tag, DropTag,
      Rollback, Branch, FastForward, DropBranch)

  def names: Seq[String] = all.map(_.name())

  def load(name: String): Option[UnboundProcedure] =
    all.find(_.name() == name.toLowerCase(java.util.Locale.ROOT))
}
