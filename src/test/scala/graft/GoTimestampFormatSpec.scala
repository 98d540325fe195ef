package graft

import graft.expr.{GoTs, GoTimestampFormat}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Go `.999` timestamp verb (reference `main.go:179`,
  * `"2006-01-02T15:04:05.999Z"`): millisecond precision, trailing fraction
  * zeros trimmed, the dot dropped when the fraction is zero.
  */
class GoTimestampFormatSpec extends AnyFunSuite {

  private val base = 1704067200000000L // 2024-01-01T00:00:00Z

  test("zero fraction drops the dot entirely") {
    assert(GoTs.formatMicros(base).toString == "2024-01-01T00:00:00Z")
  }
  test(".120 trims to .12, .100 to .1, .123 stays") {
    assert(GoTs.formatMicros(base + 120000L).toString == "2024-01-01T00:00:00.12Z")
    assert(GoTs.formatMicros(base + 100000L).toString == "2024-01-01T00:00:00.1Z")
    assert(GoTs.formatMicros(base + 123000L).toString == "2024-01-01T00:00:00.123Z")
  }
  test("sub-millisecond micros truncate like Go's millisecond verb") {
    assert(GoTs.formatMicros(base + 999L).toString == "2024-01-01T00:00:00Z")
    assert(GoTs.formatMicros(base + 1999L).toString == "2024-01-01T00:00:00.001Z")
  }
  test("pre-epoch timestamps format correctly (floorDiv/floorMod)") {
    assert(GoTs.formatMicros(-1000000L).toString == "1969-12-31T23:59:59Z")
  }

  /** The `java.time` rendering the char-array formatter replaced. */
  private def reference(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val ms = (Math.floorMod(micros, 1000000L) / 1000L).toInt
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    val base = "%04d-%02d-%02dT%02d:%02d:%02d".format(t.getYear, t.getMonthValue,
      t.getDayOfMonth, t.getHour, t.getMinute, t.getSecond)
    val frac = if (ms == 0) "" else ".%03d".format(ms).reverse.dropWhile(_ == '0').reverse
    base + frac + "Z"
  }

  test("sweep: pre-epoch, whole seconds, 1-3 ms digits, 5-digit and negative years") {
    val r = new scala.util.Random(17)
    val day = 86400L * 1000000L
    val picks = Seq(0L, -1L, 1L, 999L, -999L, 1000L, -1000L, Long.MaxValue, Long.MinValue,
      -62135596800000000L, // 0001-01-01
      -62167219200000000L, // 0000-01-01
      -62198755200000000L, // -0001-01-01
      253402300800000000L, // 10000-01-01
      951782400000000L,    // 2000-02-29
      4107542400000000L)   // 2100-03-01
    val random = (1 to 20000).flatMap { _ =>
      val sec = r.nextLong() % (290000L * 365 * day / 1000000L)
      Seq(sec * 1000000L,                                 // whole seconds
        sec * 1000000L + r.nextInt(1000) * 1000L,         // ms, 1-3 digits
        sec * 1000000L + r.nextInt(10) * 100000L,         // .d00
        sec * 1000000L + r.nextInt(100) * 10000L,         // .dd0
        r.nextLong() % (20000L * 366 * day),              // years 0-20000 and back
        r.nextLong())
    }
    (picks ++ random).foreach { us =>
      assert(GoTs.formatMicros(us).toString == reference(us), s"micros $us")
    }
  }

  test("expression path (interpreted + codegen) agrees with the helper") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(base, base + 120000L, base + 123000L, base + 999L)
      .toDF("us")
      .select(GraftShim.column(GoTimestampFormat(
        GraftShim.expression(timestamp_micros(col("us"))))).as("s"))
    assert(df.as[String].collect().toSeq == Seq(
      "2024-01-01T00:00:00Z", "2024-01-01T00:00:00.12Z",
      "2024-01-01T00:00:00.123Z", "2024-01-01T00:00:00Z"))
  }
}
