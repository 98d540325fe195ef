package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional positional args past the first two restrict the dump to the
    // named keys — focused re-verification while iterating (Bench has the
    // same contract); the driver passes exactly two args and dumps all
    val only = args.drop(2).toSet
    // a misspelled key must fail loudly, not "verify" an empty set
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown keys: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // loud end-of-run summary: the r9 driver artifact silently recorded a
    // 29-key wipeout as "keys absent" — make any failure impossible to
    // miss in both the stderr log and the artifact tail
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] SUMMARY: ${failed.size}/${selected.size} keys FAILED: ${failed.sorted.mkString(", ")}")
    else
      System.err.println(s"[verify] SUMMARY: all ${selected.size} keys dumped")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // non-zero exit on any key failure so exit-status-checking automation
    // sees a partial wipeout — after the artifact write, so the driver
    // still gets oracle_sql.json and the dumped keys
    if (failed.nonEmpty) sys.exit(1)
  }
}
