package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks a single test JVM).
  * Built by [[GraftSession.builder]] — the Verify/Bench config — at a
  * shuffle fan-out of 4, and WITHOUT [[GraftExtensions]]: the extension
  * specs compare the extended session against this one.
  */
object TestSpark {
  private def baseBuilder(master: String): SparkSession.Builder =
    GraftSession.builder(master, 4).appName("graft-test")

  lazy val spark: SparkSession = {
    val s = baseBuilder("local[4]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A NEW session with [[GraftExtensions]] loaded and the SAME canonical
    * config as [[spark]] (one source of truth — a hand-copied config here
    * once silently dropped a parity-relevant conf). `getOrCreate` ignores
    * `withExtensions` while an active/default session exists, so those are
    * cleared first; call [[restoreSharedSession]] from afterAll. */
  def extensionsSession(): SparkSession = {
    val _ = spark // materialize the shared context before clearing refs
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = baseBuilder("local[4]").withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Undo [[extensionsSession]]'s swap so later suites see the shared one. */
  def restoreSharedSession(): Unit = {
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
  }

  val Sf0001 = "/root/testdata/sf0.001"
}
