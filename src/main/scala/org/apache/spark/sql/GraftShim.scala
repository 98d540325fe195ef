package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` surface: wrap a raw Catalyst
  * `Expression` as a public `Column` (Spark 4 routes this through
  * `classic.ExpressionUtils`). This is the standard extension-library shim —
  * one line per direction, nothing else leaks out of the sql package.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A sort column's (key, ascending, nulls first). A plain column sorts
    * ascending with nulls first, as in `Window.orderBy`. */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case internal.SortOrder(child, dir, nulls, _) =>
      (new Column(child), dir == internal.SortOrder.Ascending,
       nulls == internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }

  /** Re-materialize a micro-batch DataFrame handed to a V1 streaming
    * `Sink.addBatch` as an ordinary batch frame over the SAME physical
    * plan (`queryExecution.toRdd`), so a sink can run its own batch
    * writer on it. Passing the incoming Dataset straight into a new
    * batch query would re-plan it from the logical plan — against
    * streaming leaf nodes that a batch planner refuses (and a second
    * source read if it didn't). This is the standard V1-sink bridge the
    * file-format sinks use; rows are copied because the physical RDD of
    * a whole-stage-codegen plan reuses its row buffer. */
  def rematerialize(data: Dataset[Row]): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = false)
  }

  /** Wrap a batch frame as a STREAMING one (isStreaming = true leaf) for
    * a V1 `Source.getBatch` return — MicroBatchExecution asserts the
    * batch plan is streaming. The plan stays lazy: `toRdd` is the
    * already-optimized physical RDD, executed once when the trigger
    * runs. No row copy — downstream operators own the standard
    * reused-InternalRow contract, same as any scan. */
  def asStreamingDF(data: Dataset[Row]): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** V2 connector `Predicate` → V1 `sources.Filter` (Spark's own
    * translation, `private[sql]`): the metadata-DELETE path of the
    * graftlake V2 table turns pushed predicates back into Columns. */
  def predicateToV1(p: org.apache.spark.sql.connector.expressions.filter
      .Predicate): Option[sources.Filter] =
    internal.connector.PredicateUtils.toV1(p)

  /** `sorted_bucket` transform bridge (the class is `private[sql]`):
    * construct one for `Table.partitioning()` reporting, and parse one
    * from `CREATE TABLE ... CLUSTERED BY ... SORTED BY ...`. */
  def sortedBucket(n: Int, cols: Seq[String], sortCols: Seq[String])
      : connector.expressions.Transform =
    connector.expressions.SortedBucketTransform(
      connector.expressions.LiteralValue(n, types.IntegerType),
      cols.map(c => connector.expressions.Expressions.column(c)
        .asInstanceOf[connector.expressions.NamedReference]),
      sortCols.map(c => connector.expressions.Expressions.column(c)
        .asInstanceOf[connector.expressions.NamedReference]))

  def parseSortedBucket(t: connector.expressions.Transform)
      : Option[(Int, Seq[String], Seq[String])] = t match {
    case sb: connector.expressions.SortedBucketTransform =>
      Some((sb.numBuckets.value.toString.toInt,
        sb.columns.map(_.fieldNames.mkString(".")),
        sb.sortedColumns.map(_.fieldNames.mkString("."))))
    case _ => None
  }

  /** `FieldReference.column` bridge (the object is `private[sql]`): a
    * bare top-level column reference for `filterAttributes()`. */
  def fieldRef(name: String): connector.expressions.NamedReference =
    connector.expressions.FieldReference.column(name)

  /** `LiteralValue` extractor bridge: the (value, type) of a V2 literal
    * child of a runtime-filter predicate, None for non-literals. */
  def literalValueOf(e: connector.expressions.Expression)
      : Option[(Any, types.DataType)] = e match {
    case connector.expressions.LiteralValue(v, dt) => Some((v, dt))
    case _ => None
  }

  /** Schema-correct EMPTY streaming frame (a no-new-data micro-batch). */
  def emptyStreamingDF(spark: SparkSession,
                       schema: types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }
}
