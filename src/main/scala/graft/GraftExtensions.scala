package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expr.{DotProduct, GoTimestampFormat, Md5Prefix60, NfcNormalize, WordShingles}

/** Session-extension hook: registers the engine's custom Catalyst
  * expressions as SQL functions, so `spark.sql` users get them without the
  * Scala Column API:
  *
  * {{{
  *   GraftSession.builder("local[4]", 4)
  *     .withExtensions(new GraftExtensions)            // programmatic
  *   // or spark.sql.extensions=graft.GraftExtensions  // config-driven
  *   spark.sql("SELECT go_ts(ts), md5_prefix60(text) FROM ...")
  * }}}
  *
  * This is the standard extension-library seam. Two hooks are used:
  * injectFunction for the custom expressions above, and (r16)
  * injectOptimizerRule for [[graft.plans.EvalAfterSort]] — the hoist
  * that evaluates computed projections AFTER a global sort instead of
  * twice under it (once in the range-sample pass, once for real); the
  * engine's own keys carry the shape by hand, the rule gives the same
  * plan to SQL/Column users who write the natural `SELECT … ORDER BY`.
  * No custom Strategy/physical operator is needed anywhere (SURVEY
  * §4.2).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, clazz: Class[_], usage: String,
                 build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
     new ExpressionInfo(clazz.getCanonicalName, null, name, usage,
       "", "", "", "", "", "", ""),
     build)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs inside the operator-optimization fixpoint batch, alongside
    // ColumnPruning (which then prunes the child below the moved Sort)
    ext.injectOptimizerRule(_ => graft.plans.EvalAfterSort)
    // builders are total: wrong arity gets a descriptive error, not the
    // analyzer-internal MatchError a bare partial function would throw
    ext.injectFunction(fn("go_ts", classOf[GoTimestampFormat],
      "go_ts(ts) - formats a timestamp like Go's 2006-01-02T15:04:05.999Z layout (trailing fraction zeros trimmed)",
      {
        case Seq(child) => GoTimestampFormat(child)
        case args => throw new IllegalArgumentException(
          s"go_ts requires exactly 1 argument, got ${args.length}")
      }))
    ext.injectFunction(fn("md5_prefix60", classOf[Md5Prefix60],
      "md5_prefix60(str) - the engine's shared 60-bit md5-prefix digest as BIGINT",
      {
        case Seq(child) => Md5Prefix60(child)
        case args => throw new IllegalArgumentException(
          s"md5_prefix60 requires exactly 1 argument, got ${args.length}")
      }))
    ext.injectFunction(fn("dot_f32", classOf[DotProduct],
      "dot_f32(a, b) - sequential-fold dot product of two ARRAY<FLOAT> columns as DOUBLE",
      {
        case Seq(a, b) => DotProduct(a, b)
        case args => throw new IllegalArgumentException(
          s"dot_f32 requires exactly 2 arguments, got ${args.length}")
      }))
    ext.injectFunction(fn("nfc_normalize", classOf[NfcNormalize],
      "nfc_normalize(str) - Unicode NFC normalization (UAX #15), mirrors DuckDB's nfc_normalize",
      {
        case Seq(child) => NfcNormalize(child)
        case args => throw new IllegalArgumentException(
          s"nfc_normalize requires exactly 1 argument, got ${args.length}")
      }))
    ext.injectFunction(fn("word_shingles", classOf[WordShingles],
      "word_shingles(text, k) - k-word shingles of space-separated text (k must be a literal int)",
      {
        case Seq(child, Literal(k: Int, _)) => WordShingles(child, k)
        case args if args.length != 2 => throw new IllegalArgumentException(
          s"word_shingles requires exactly 2 arguments, got ${args.length}")
        case _ => throw new IllegalArgumentException(
          "word_shingles' second argument must be a literal INT (e.g. word_shingles(text, 3))")
      }))
  }
}
