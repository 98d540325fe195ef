package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleSmoke.synthesize]]: the copies the scale smoke times its keys
  * on. Scaled tables multiply their rows by the copy count with ids
  * shifted apart per copy, dims pass through, and the marker ties a
  * built dir to its source so a dir built from another scale is rebuilt,
  * never reused. */
class ScaleSmokeSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val Sf001 =
    Paths.get(TestSpark.Sf0001).resolveSibling("sf0.01").toString

  private def rowsOf(dir: String, t: String): Long =
    s.read.parquet(s"$dir/$t.parquet").count()

  private def distinctOf(dir: String, t: String, c: String): Long =
    s.read.parquet(s"$dir/$t.parquet").select(col(c)).distinct().count()

  test("2 copies: scaled tables double with disjoint shifted ids; dims " +
       "pass through; the marker records the source and a new source " +
       "rebuilds") {
    val out = Files.createTempDirectory("scale-smoke").toString
    ScaleSmoke.synthesize(s, TestSpark.Sf0001, out, 2)

    for (t <- Seq("documents", "events", "lineitem", "orders", "embeddings"))
      assert(rowsOf(out, t) == 2 * rowsOf(TestSpark.Sf0001, t), t)
    // each copy's ids land in their own range: twice the distinct ids
    for ((t, c) <- Seq("documents" -> "doc_id", "events" -> "event_id",
        "events" -> "user_id", "lineitem" -> "l_orderkey",
        "orders" -> "o_orderkey", "orders" -> "o_custkey",
        "embeddings" -> "vec_id"))
      assert(distinctOf(out, t, c) == 2 * distinctOf(TestSpark.Sf0001, t, c),
        s"$t.$c")
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      assert(rowsOf(out, t) == rowsOf(TestSpark.Sf0001, t), t)

    val marker = Paths.get(out, "_built_v5")
    assert(Files.readString(marker) ==
      Paths.get(TestSpark.Sf0001).toAbsolutePath.normalize.toString)
    // the same source reuses the dir: a file planted in a table survives
    val planted = Paths.get(out, "documents.parquet", "_planted")
    Files.writeString(planted, "")
    ScaleSmoke.synthesize(s, TestSpark.Sf0001, out, 2)
    assert(Files.exists(planted), "same source must not rebuild")
    // another source rebuilds from it
    ScaleSmoke.synthesize(s, Sf001, out, 2)
    assert(!Files.exists(planted), "a new source must rebuild")
    assert(Files.readString(marker) ==
      Paths.get(Sf001).toAbsolutePath.normalize.toString)
    assert(rowsOf(out, "documents") == 2 * rowsOf(Sf001, "documents"))
  }
}
