package graft.queue

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.io.schubfach.{DoubleToDecimal, FloatToDecimal}

/** Deterministic JSON encoder for event maps — the engine's analog of the
  * reference's `json.Marshal` calls (`main.go:202` for per-item sizing,
  * `main.go:267` for whole-batch payloads).
  *
  * It writes UTF-8 straight into a reusable per-thread buffer and follows
  * `encoding/json`'s rules: no whitespace; map keys sorted once per map in
  * UTF-8 byte order (Go compares strings bytewise, which is code-point
  * order, not UTF-16 order); `<` `>` `&` and U+2028 U+2029 written as
  * six-character hex escapes (backslash, `u003c` and so on); floats with
  * the shortest round-trip digits, plain for 1e-6 <= |x| < 1e21 and in
  * `1e+21` / `1e-7` exponent form outside that range. Two departures stay
  * on purpose: control characters other than newline, carriage return and
  * tab (so also backspace and form feed, whose Go encoding changed in
  * Go 1.22) go out as hex escapes, and a lone UTF-16 surrogate becomes `?`
  * (what `String.getBytes(UTF_8)` writes) rather than Go's U+FFFD.
  */
object Json {
  def encode(v: Any): String = new String(encodeBytes(v), UTF_8)

  /** Byte length of the encoded value — the sizing used for batch-threshold
    * accounting (`main.go:202-203`). */
  def byteSize(v: Any): Long = encodeBytes(v).length.toLong

  /** The UTF-8 encoding of `v`. Throws IllegalArgumentException for a
    * non-finite number, as Go's `json.Marshal` errors on one. */
  def encodeBytes(v: Any): Array[Byte] = {
    val cached = buffers.get
    // a value whose toString encodes JSON itself re-enters on this thread
    val w = if (cached.busy) new Writer else cached
    w.busy = true
    try { w.value(v); w.result() }
    finally { w.reset(); w.busy = false }
  }

  private val buffers = ThreadLocal.withInitial[Writer](() => new Writer)

  /** UTF-16 order with the surrogate block moved above U+FFFF: code-point
    * order, which is UTF-8 byte order. */
  private val CodePointOrder: java.util.Comparator[AnyRef] = (x, y) => {
    val a = x.asInstanceOf[String]; val b = y.asInstanceOf[String]
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) a.length - b.length
    else fix(a.charAt(i)) - fix(b.charAt(i))
  }
  private def fix(c: Char): Int =
    if (c < 0xd800) c else if (c < 0xe000) c + 0x2000 else c - 0x800

  private val Hex = "0123456789abcdef".getBytes(UTF_8)
  /** ASCII chars a JSON string carries unescaped: not a control char,
    * quote, backslash, or one of Go's HTML-escaped `<` `>` `&`. */
  private val Plain: Array[Boolean] =
    Array.tabulate(128)(c => c >= 0x20 && !"\"\\<>&".contains(c.toChar))
  private val TrueB = "true".getBytes(UTF_8)
  private val FalseB = "false".getBytes(UTF_8)
  private val NullB = "null".getBytes(UTF_8)

  private final class Writer {
    var busy = false
    private var buf = new Array[Byte](1024)
    private var len = 0

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
    def reset(): Unit = {
      len = 0
      if (buf.length > (1 << 20)) buf = new Array[Byte](1024)
      if (cs.length > (1 << 20)) cs = new Array[Char](256)
    }

    private def ensure(n: Int): Unit =
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    private def byte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    private def bytes(bs: Array[Byte]): Unit = {
      ensure(bs.length)
      System.arraycopy(bs, 0, buf, len, bs.length)
      len += bs.length
    }

    def value(v: Any): Unit = v match {
      case null => bytes(NullB)
      case m: Map[_, _] =>
        val keys = new Array[AnyRef](m.size)
        var k = 0
        m.keysIterator.foreach { key => keys(k) = key.asInstanceOf[String]; k += 1 }
        java.util.Arrays.sort(keys, CodePointOrder)
        val mm = m.asInstanceOf[Map[String, Any]]
        byte('{')
        k = 0
        while (k < keys.length) {
          if (k > 0) byte(',')
          val key = keys(k).asInstanceOf[String]
          string(key); byte(':'); value(mm(key))
          k += 1
        }
        byte('}')
      case xs: Seq[_] =>
        byte('[')
        var first = true
        xs.foreach { x => if (!first) byte(','); first = false; value(x) }
        byte(']')
      case s: String => string(s)
      case b: Boolean => bytes(if (b) TrueB else FalseB)
      case d: Double => double(d)
      case f: Float => float(f)
      case i: Int => long(i.toLong)
      case l: Long => long(l)
      case n: Number => raw(n.toString)
      case other => string(other.toString)
    }

    private def long(l: Long): Unit =
      if (l == Long.MinValue) raw(l.toString)
      else {
        var x = if (l < 0) { byte('-'); -l } else l
        var digits = 1
        var p = 10L
        while (digits < 19 && x >= p) { digits += 1; p *= 10 }
        ensure(digits)
        var i = len + digits - 1
        while (i >= len) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
        len += digits
      }

    private def double(d: Double): Unit = {
      // Go's json.Marshal errors on non-finite floats
      // (json.UnsupportedValueError); rendering a bare NaN/Infinity token
      // would silently corrupt the whole batch payload instead.
      if (d.isNaN || d.isInfinite)
        throw new IllegalArgumentException(s"json: unsupported value: $d")
      val a = math.abs(d)
      if (a < 1e15 && d == d.toLong && !(d == 0 && 1 / d < 0)) long(d.toLong)
      else goFloat(DoubleToDecimal.toString(d), a != 0 && (a < 1e-6 || a >= 1e21),
        if (a < java.lang.Double.MIN_NORMAL) a else 0, c => c.doubleValue == a)
    }

    private def float(f: Float): Unit = {
      if (f.isNaN || f.isInfinite)
        throw new IllegalArgumentException(s"json: unsupported value: $f")
      val a = math.abs(f)
      goFloat(FloatToDecimal.toString(f), a != 0 && (a < 1e-6f || a >= 1e21f),
        if (a < java.lang.Float.MIN_NORMAL) a else 0, c => c.floatValue == a)
    }

    /** Re-renders Java's shortest-digit output (`123.45`, `1.0E-7`) in
      * Go's `strconv.AppendFloat(x, 'f' or 'e', -1)` form. `tiny` is |x|
      * when x is subnormal, where Java may print two digits (`4.9E-324`)
      * although one already round-trips (`rounds`), and Go prints that
      * one (`5e-324`). */
    private def goFloat(js: String, exp: Boolean, tiny: Double,
                        rounds: JBigDecimal => Boolean): Unit = {
      val neg = js.charAt(0) == '-'
      val e = js.indexOf('E')
      val mant = js.substring(if (neg) 1 else 0, if (e < 0) js.length else e)
      val dot = mant.indexOf('.')
      val all = mant.substring(0, dot) + mant.substring(dot + 1)
      var lead = 0
      while (lead < all.length - 1 && all.charAt(lead) == '0') lead += 1
      var end = all.length
      while (end > lead + 1 && all.charAt(end - 1) == '0') end -= 1
      var digits = all.substring(lead, end)
      // the value is 0.<digits> × 10^point
      var point = dot - lead + (if (e < 0) 0 else js.substring(e + 1).toInt)
      if (tiny != 0 && digits.length == 2) {
        // subnormals are evenly spaced: if the one-digit decimal nearest
        // |x| does not round-trip, neither does the other
        val one = new JBigDecimal(tiny).round(new java.math.MathContext(1))
        if (rounds(one)) {
          digits = one.unscaledValue.toString; point = digits.length - one.scale
        }
      }
      if (neg) byte('-')
      if (digits == "0") byte('0')
      else if (exp) {
        raw(digits.substring(0, 1))
        if (digits.length > 1) { byte('.'); raw(digits.substring(1)) }
        val p = point - 1
        raw(if (p < 0) s"e-${-p}" else s"e+$p")
      } else if (point <= 0) {
        byte('0'); byte('.')
        var z = 0
        while (z < -point) { byte('0'); z += 1 }
        raw(digits)
      } else if (point >= digits.length) {
        raw(digits)
        var z = digits.length
        while (z < point) { byte('0'); z += 1 }
      } else {
        raw(digits.substring(0, point)); byte('.'); raw(digits.substring(point))
      }
    }

    /** UTF-8 of `s` with no escaping. */
    private def raw(s: String): Unit = chars(s, escape = false)

    private def string(s: String): Unit = {
      byte('"'); chars(s, escape = true); byte('"')
    }

    private var cs = new Array[Char](256)

    /** One pass over a copy of the chars, room for the widest output (a
      * six-byte escape per char) reserved up front. */
    private def chars(s: String, escape: Boolean): Unit = {
      val n = s.length
      if (cs.length < n) cs = new Array[Char](math.max(n, cs.length * 2))
      s.getChars(0, n, cs, 0)
      ensure(6 * n)
      val c = cs
      val b = buf
      var j = len
      var i = 0
      while (i < n) {
        val ch = c(i)
        if (ch < 0x80) {
          if (!escape || Plain(ch)) { b(j) = ch.toByte; j += 1 }
          else {
            b(j) = '\\'
            ch match {
              case '"' => b(j + 1) = '"'; j += 2
              case '\\' => b(j + 1) = '\\'; j += 2
              case '\n' => b(j + 1) = 'n'; j += 2
              case '\r' => b(j + 1) = 'r'; j += 2
              case '\t' => b(j + 1) = 't'; j += 2
              case _ => j = hexEscape(ch, j)
            }
          }
        } else if (ch < 0x800) {
          b(j) = (0xc0 | (ch >> 6)).toByte
          b(j + 1) = (0x80 | (ch & 0x3f)).toByte
          j += 2
        } else if (Character.isSurrogate(ch)) {
          if (Character.isHighSurrogate(ch) && i + 1 < n && Character.isLowSurrogate(c(i + 1))) {
            val cp = Character.toCodePoint(ch, c(i + 1))
            b(j) = (0xf0 | (cp >> 18)).toByte
            b(j + 1) = (0x80 | ((cp >> 12) & 0x3f)).toByte
            b(j + 2) = (0x80 | ((cp >> 6) & 0x3f)).toByte
            b(j + 3) = (0x80 | (cp & 0x3f)).toByte
            j += 4; i += 1
          } else { b(j) = '?'; j += 1 }
        } else if (escape && (ch == 0x2028 || ch == 0x2029)) {
          b(j) = '\\'; j = hexEscape(ch, j)
        } else {
          b(j) = (0xe0 | (ch >> 12)).toByte
          b(j + 1) = (0x80 | ((ch >> 6) & 0x3f)).toByte
          b(j + 2) = (0x80 | (ch & 0x3f)).toByte
          j += 3
        }
        i += 1
      }
      len = j
    }

    /** `u` and four hex digits after the backslash at `j`; the next index. */
    private def hexEscape(ch: Char, j: Int): Int = {
      val b = buf
      b(j + 1) = 'u'
      b(j + 2) = Hex((ch >> 12) & 0xf); b(j + 3) = Hex((ch >> 8) & 0xf)
      b(j + 4) = Hex((ch >> 4) & 0xf); b(j + 5) = Hex(ch & 0xf)
      j + 6
    }
  }
}
