package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper (standalone object → static forwarders, callable from
  * generated Java). Formats epoch-micros like Go's
  * `t.UTC().Format("2006-01-02T15:04:05.999Z")` (reference `main.go:179`):
  * millisecond precision, trailing zeros of the fraction trimmed, the dot
  * dropped entirely when the fraction is zero, literal 'Z' suffix. The
  * year is zero-padded to four places, sign included (`0099`, `-005`,
  * `12345`), as `java.time` with `%04d` renders it.
  *
  * One pass into a byte array per call: the civil date comes from the day number
  * by Hinnant's `civil_from_days` (proleptic Gregorian, as `java.time`),
  * so no formatter, interpolation or intermediate String runs per row.
  */
object GoTs {
  def formatMicros(micros: Long): UTF8String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val ms = (Math.floorMod(micros, 1000000L) / 1000L).toInt
    val days = Math.floorDiv(secs, 86400L)
    val sod = Math.floorMod(secs, 86400L).toInt
    // civil_from_days: eras of 400 years starting 0000-03-01
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val day = doy - (153 * mp + 2) / 5 + 1
    val month = if (mp < 10) mp + 3 else mp - 9
    val year = yoe + era * 400L + (if (month <= 2) 1 else 0)

    // "-290308-12-21T19:59:05.999Z" is as wide as a Long of micros reaches
    val b = new Array[Byte](27)
    var n = 0
    def put(c: Int): Unit = { b(n) = c.toByte; n += 1 }
    def two(v: Int): Unit = { put('0' + v / 10); put('0' + v % 10) }
    val ay = if (year < 0) { put('-'); -year } else year
    val width = if (year < 0) 3 else 4
    var digits = 1
    var p = 10L
    while (ay >= p) { digits += 1; p *= 10 }
    var pad = width - digits
    while (pad > 0) { put('0'); pad -= 1 }
    var i = n + digits - 1
    var y = ay
    while (i >= n) { b(i) = ('0' + y % 10).toByte; y /= 10; i -= 1 }
    n += digits
    put('-'); two(month); put('-'); two(day)
    put('T'); two(sod / 3600); put(':'); two(sod / 60 % 60); put(':'); two(sod % 60)
    if (ms != 0) {
      put('.'); put('0' + ms / 100)
      if (ms % 100 != 0) {
        put('0' + ms / 10 % 10)
        if (ms % 10 != 0) put('0' + ms % 10)
      }
    }
    put('Z')
    UTF8String.fromBytes(b, 0, n)
  }
}

/** Custom Catalyst expression with codegen: Go `.999`-style timestamp
  * formatting (SURVEY.md §2.B `q_expr_go_ts`, §4.2 item 1). Spark's
  * `date_format` cannot express trailing-zero trimming, so this is one of
  * the few genuinely custom pieces of the engine. Stays inside whole-stage
  * codegen via `defineCodeGen` — one static call per row, no boxing.
  */
case class GoTimestampFormat(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == TimestampType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"go_ts requires TIMESTAMP input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "go_ts"

  override protected def nullSafeEval(input: Any): Any =
    GoTs.formatMicros(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.GoTs.formatMicros($c)")

  override protected def withNewChildInternal(newChild: Expression): GoTimestampFormat =
    copy(child = newChild)
}
