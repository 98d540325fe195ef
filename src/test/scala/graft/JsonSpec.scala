package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.queue.Json
import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** `Json` against Go's `encoding/json` (`json.Marshal`). The expected
  * strings are derived by hand from the package's documented rules: HTML
  * characters and U+2028/U+2029 escaped, floats via `strconv.AppendFloat`
  * with the shortest round-trip digits (`'f'` for 1e-6 <= |x| < 1e21, `'e'`
  * otherwise, `e-07` cleaned to `e-7`), map keys sorted bytewise.
  */
class JsonSpec extends AnyFunSuite {

  private def table(cases: (Any, String)*): Unit = cases.foreach { case (v, want) =>
    assert(Json.encode(v) == want, s"encode($v)")
    assert(Json.byteSize(v) == want.getBytes(UTF_8).length, s"byteSize($v)")
  }

  test("HTML-sensitive characters and U+2028/U+2029 are escaped") {
    table(
      "<a href=\"x\">&amp;</a>" ->
        "\"\\u003ca href=\\\"x\\\"\\u003e\\u0026amp;\\u003c/a\\u003e\"",
      "line\u2028para\u2029end" -> "\"line\\u2028para\\u2029end\"",
      Map("k<" -> "&") -> "{\"k\\u003c\":\"\\u0026\"}")
  }

  test("other escapes keep their encoding; backspace and form feed stay hex") {
    table(
      "q\"b\\s/" -> "\"q\\\"b\\\\s/\"",
      "\n\r\t" -> "\"\\n\\r\\t\"",
      "\b\f\u0001\u001f" -> "\"\\u0008\\u000c\\u0001\\u001f\"",
      "\u007f é 漢 \ud83d\ude00" -> "\"\u007f é 漢 \ud83d\ude00\"")
  }

  test("floats: plain in [1e-6, 1e21), exponent outside, shortest digits") {
    table(
      1e15 -> "1000000000000000",
      12345678.5 -> "12345678.5",
      123.45 -> "123.45",
      0.1 -> "0.1",
      1.0 / 3 -> "0.3333333333333333",
      1e20 -> "100000000000000000000",
      math.pow(2, 60) -> "1152921504606847000",
      // JDK 17's Double.toString prints 2.82879384806159008E17 here
      2.82879384806159e17 -> "282879384806159000",
      1e-6 -> "0.000001",
      1.5e-6 -> "0.0000015",
      1e21 -> "1e+21",
      1e23 -> "1e+23",
      1e100 -> "1e+100",
      1e-7 -> "1e-7",
      -2.5e-10 -> "-2.5e-10",
      1.23456789e-7 -> "1.23456789e-7",
      Double.MaxValue -> "1.7976931348623157e+308",
      Double.MinPositiveValue -> "5e-324",
      -0.0 -> "-0",
      0.0 -> "0",
      -42.0 -> "-42",
      0.1f -> "0.1",
      1e21f -> "1e+21",
      Float.MinPositiveValue -> "1e-45")
  }

  test("non-finite numbers are refused, as json.Marshal refuses them") {
    Seq[Any](Double.NaN, Double.PositiveInfinity, Float.NegativeInfinity,
      Map("event" -> Seq(1, Double.NaN))).foreach { v =>
      assert(intercept[IllegalArgumentException](Json.encode(v))
        .getMessage.startsWith("json: unsupported value"))
    }
  }

  test("map keys sort in UTF-8 byte order, not UTF-16 order") {
    // U+FF61 is EF BD A1 in UTF-8 and U+1F600 is F0 9F 98 80: bytewise
    // the BMP key sorts first, though its UTF-16 unit 0xFF61 is above the
    // surrogate 0xD83D
    table(
      Map("\ud83d\ude00" -> 2, "\uff61" -> 1, "a" -> 0) ->
        "{\"a\":0,\"\uff61\":1,\"\ud83d\ude00\":2}",
      Map("b" -> 1, "a" -> Map("y" -> 2, "x" -> Seq(true, null))) ->
        "{\"a\":{\"x\":[true,null],\"y\":2},\"b\":1}",
      Map("ab" -> 1, "a" -> 2, "" -> 3) -> "{\"\":3,\"a\":2,\"ab\":1}")
  }

  test("a value whose toString encodes JSON itself still encodes") {
    val inner = new Object { override def toString: String = Json.encode(Map("x" -> 1)) }
    assert(Json.encode(Map("v" -> inner)) == "{\"v\":\"{\\\"x\\\":1}\"}")
  }
}

/** Outside the three Go-fidelity classes (HTML characters, floats other
  * than whole values below 1e15, keys whose UTF-16 and byte orders
  * differ), the encoder writes exactly what the String-building encoder it
  * replaced wrote. */
object JsonProps extends Properties("json") {

  /** The replaced encoder, kept verbatim as the reference. */
  private object Previous {
    def encode(v: Any): String = v match {
      case null => "null"
      case m: Map[_, _] =>
        m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
          .map { case (k, x) => s"${str(k)}:${encode(x)}" }
          .mkString("{", ",", "}")
      case xs: Seq[_]  => xs.map(encode).mkString("[", ",", "]")
      case s: String   => str(s)
      case b: Boolean  => b.toString
      case d: Double   =>
        if (d.isNaN || d.isInfinite)
          throw new IllegalArgumentException(s"json: unsupported value: $d")
        else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
        else d.toString
      case f: Float    => encode(f.toDouble)
      case n: Number   => n.toString
      case other       => str(other.toString)
    }
    private def str(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"'           => sb.append("\\\"")
        case '\\'          => sb.append("\\\\")
        case '\n'          => sb.append("\\n")
        case '\r'          => sb.append("\\r")
        case '\t'          => sb.append("\\t")
        case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
        case c             => sb.append(c)
      }
      sb.append('"').toString
    }
  }

  private def html(c: Char) = c == '<' || c == '>' || c == '&' || c == 0x2028 || c == 0x2029

  // any char but the HTML class: ASCII, BMP, lone surrogates included
  private val genChar: Gen[Char] = Gen.frequency(
    6 -> Gen.choose(0.toChar, 127.toChar),
    2 -> Arbitrary.arbitrary[Char]).suchThat(c => !html(c))
  private val genString: Gen[String] = Gen.oneOf(
    Gen.listOf(genChar).map(_.mkString),
    Gen.listOf(Gen.choose(0x10000, 0x10ffff)).map(cps =>
      new String(cps.toArray, 0, cps.length)))
  // keys without surrogates: for them UTF-16 order is byte order
  private val genKey: Gen[String] =
    Gen.listOf(genChar.suchThat(c => !Character.isSurrogate(c))).map(_.take(6).mkString)

  private val genScalar: Gen[Any] = Gen.oneOf[Any](
    genString, Arbitrary.arbitrary[Int], Arbitrary.arbitrary[Long],
    Arbitrary.arbitrary[Boolean], Gen.const(null),
    Gen.choose(-999999999999999L, 999999999999999L).map(_.toDouble),
    Arbitrary.arbitrary[Short].map(java.lang.Short.valueOf),
    Gen.choose(-1000000L, 1000000L).map(BigDecimal(_, 2)))

  private def genValue(depth: Int): Gen[Any] =
    if (depth == 0) genScalar
    else Gen.frequency(
      4 -> genScalar,
      1 -> Gen.choose(0, 5).flatMap(Gen.listOfN(_, genValue(depth - 1))),
      1 -> Gen.choose(0, 8).flatMap(n =>
        Gen.mapOfN(n, Gen.zip(genKey, genValue(depth - 1)))))

  property("byte-identical-outside-go-fidelity-classes") = forAll(genValue(3)) { v =>
    val want = Previous.encode(v).getBytes(UTF_8)
    val got = Json.encodeBytes(v)
    Prop(java.util.Arrays.equals(want, got)) :| s"${Previous.encode(v)} vs ${Json.encode(v)}"
  }
}
