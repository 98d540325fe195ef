package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session configuration. Bench, Verify, PlanDump,
  * ScaleSmoke and the shared test session all start from [[builder]], so a
  * figure from any of them comes from the session the others run.
  *
  * The engine runs under its own extensions (r16): the mains add
  * `.withExtensions(new GraftExtensions)`, so the EvalAfterSort optimizer
  * rule and the SQL-registered custom expressions are active in the driver
  * contract sessions, not just user sessions — the hash gate then certifies
  * the rule changes no values on any key. The shared test session stays
  * un-extended as the reference the extension specs compare against.
  */
object GraftSession {
  /** Every conf [[builder]] sets apart from the shuffle fan-out. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // the two fixture-encoding confs: nanos-as-long for TIMESTAMP(NANOS)
    // vintages; NTZ inference off so micros-NTZ vintages surface as UTC
    // TIMESTAMP at the scan (see Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.catalog.graftlake" -> "graft.sources.GraftLakeCatalog",
    // column-mapped (rename-evolved) graftlake scans match by field id
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    // storage-partitioned joins (r19): bucket-laid-out graftlake tables
    // plan co-located joins exchange-free; divisible bucket counts
    // co-locate via the reducer, and a join against an unbucketed or
    // incompatible side shuffles ONLY that side into the reported layout
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  /** A builder at `master` with [[confs]] and `shufflePartitions`. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    confs.foldLeft(SparkSession.builder().master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
