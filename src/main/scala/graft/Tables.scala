package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed readers for the driver-generated fixture tables
  * (schemas in /root/repo/FIXTURES.md). One parquet file per table under
  * the scale-factor dir passed to every query; reads go through
  * `spark.read.parquet` so Catalyst gets pushdown + pruning for free.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two fixture encodings across driver rounds:
    * parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read natively — it
    * surfaces as LongType only under the legacy `nanosAsLong` conf) and
    * plain TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as
    * TimestampNTZType). Branch on the surfaced type: a Long column is raw
    * nanos and integer-divides to exact microseconds — fixture values are
    * µs-aligned (FIXTURES.md), so this matches DuckDB's µs-truncated view
    * of the same file bit-for-bit; an NTZ column casts to session-local
    * TIMESTAMP, which is value-identity under the UTC session every
    * harness pins (and what downstream ops — unix_micros, go_ts,
    * watermarks — require).
    *
    * `nanosAsLong` is session-global: [[GraftSession]] sets it at build
    * for every engine-built session. The set here is a defensive fallback
    * for sessions the driver constructs itself — it writes the same
    * constant every time, so it is idempotent and safe under concurrent
    * query construction.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Engine-built sessions (every GraftSession.builder caller) also set
    // spark.sql.parquet.inferTimestampNTZ.enabled=false at build, so an
    // NTZ-annotated micros fixture surfaces as session-local TIMESTAMP AT
    // THE SCAN and ts predicates keep pushing into parquet (PlanSpec pins
    // it) — the difference between pruning and reading an events table in
    // full at 100 TB. That conf is deliberately NOT set here: flipping it
    // per-read would silently change NTZ semantics for every OTHER dataset
    // the session touches afterwards. An externally-built session without
    // the conf instead hits the TimestampNTZType branch below — correct
    // values, graceful degradation (no scan-level pushdown on ts).
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
