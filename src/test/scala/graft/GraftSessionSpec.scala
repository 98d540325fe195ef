package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the one config every harness runs under.
  *
  * Only the shared session and [[TestSpark.extensionsSession]] are checked
  * live: a further `getOrCreate` in this JVM would hand back the shared
  * session with its confs overwritten, not build a new one.
  */
class GraftSessionSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {

  /** The confs Bench, Verify and PlanDump each set by hand before they
    * shared [[GraftSession]]; a change to the table changes what every
    * harness measures, so it has to show up here. */
  private val BenchConfs = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.catalog.graftlake" -> "graft.sources.GraftLakeCatalog",
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" ->
      "true",
    "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
    "spark.ui.enabled" -> "false")

  private lazy val ext: SparkSession = TestSpark.extensionsSession()

  override def afterAll(): Unit = {
    TestSpark.restoreSharedSession()
    super.afterAll()
  }

  test("the conf table is Bench's hand-built config, each key once") {
    assert(GraftSession.confs.toMap == BenchConfs)
    assert(GraftSession.confs.size == BenchConfs.size)
  }

  test("both test sessions resolve every conf, at 4 shuffle partitions") {
    val expected = BenchConfs + ("spark.sql.shuffle.partitions" -> "4")
    for ((name, s) <- Seq("shared" -> TestSpark.spark, "extensions" -> ext);
         (k, v) <- expected)
      assert(s.conf.get(k) == v, s"$name session: $k")
  }

  test("only the extensions session registers go_ts") {
    assert(ext.catalog.functionExists("go_ts"))
    assert(!TestSpark.spark.catalog.functionExists("go_ts"))
  }
}
