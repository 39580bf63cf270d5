package graft.jsonb

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import scala.collection.mutable.ArrayBuffer

/** PostgreSQL-jsonb value model with PG-exact semantics.
  *
  * Cypher expressions in the reference are jsonb-in/jsonb-out
  * (reference: src/backend/parser/parse_cypher_expr.c:11-19). We carry
  * jsonb values through Spark as canonical JSON strings; this module is
  * the single source of truth for parse / render / compare / arithmetic.
  *
  * Semantics replicated from the reference:
  *  - type order Null < String < Numeric < Bool < Array < Object
  *    (jbvType enum, src/include/utils/jsonb.h);
  *  - container compare: arrays by length then elementwise, objects by
  *    pair count then sorted-pairwise (jsonb_util.c compareJsonbContainers);
  *  - object keys sorted by (length, bytes) (jsonb_util.c
  *    lengthCompareJsonbStringValue);
  *  - numeric semantics of PG `numeric` (scale rules of numeric.c:
  *    add/sub max(s1,s2), mul s1+s2, div select_div_scale with >=16
  *    significant digits);
  *  - render style of jsonb_out: ", " separators, ": " after keys,
  *    numbers via numeric_out (display scale preserved: 7.0 renders "7.0").
  */
sealed trait JValue {
  def typeRank: Int = this match {
    case JNull         => 0
    case _: JStr       => 1
    case _: JNum       => 2
    case _: JBool      => 3
    case _: JArr       => 4
    case _: JObj       => 5
    case _: JDateTime  => 6 // evaluation-only; never reaches jsonb storage
  }
  def render: String = { val sb = new StringBuilder; Jsonb.render(this, sb); sb.toString }
}
case object JNull extends JValue
final case class JBool(b: Boolean) extends JValue
/** jsonpath-internal datetime scalar (the reference's jbvDatetime,
  * src/include/utils/jsonb.h): produced only by the `.datetime()` item
  * method during path evaluation, never stored in jsonb — results are
  * serialized back to their text form. `value` is one of LocalDate,
  * LocalTime, OffsetTime, LocalDateTime, OffsetDateTime.
  */
final case class JDateTime(value: java.time.temporal.Temporal, text: String)
    extends JValue
final case class JNum(n: JBigDecimal) extends JValue
final case class JStr(s: String) extends JValue
final case class JArr(items: Vector[JValue]) extends JValue
/** fields are kept sorted in PG jsonb key order: (length, bytes). */
final case class JObj(fields: Vector[(String, JValue)]) extends JValue {
  def get(k: String): Option[JValue] = {
    // fields are sorted; linear scan is fine for property-map sizes
    val it = fields.iterator
    while (it.hasNext) { val (fk, fv) = it.next(); if (fk == k) return Some(fv) }
    None
  }
}

object Jsonb {

  /** Parse exactly 4 ASCII hex digits at `at`, invoking `err` (which
    * must throw) on a short or non-hex sequence — the ONE \u-escape
    * digit parser for every lexer in the repo (json, jsonpath, Cypher),
    * so escape errors are always the lexer's own, never a raw
    * NumberFormatException, and non-ASCII Unicode "digits" (which
    * Character.digit would accept) are rejected the way the
    * reference's scanners reject them.
    */
  private[graft] def hex4(s: String, at: Int, err: () => Nothing): Int = {
    if (at + 4 > s.length) err()
    var v = 0; var j = at
    while (j < at + 4) {
      val c = s.charAt(j)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (d < 0) err()
      v = v * 16 + d; j += 1
    }
    v
  }

  // ---------------------------------------------------------------- parse

  /** Parse JSON text to a JValue. Strict; throws on malformed input. */
  def parse(s: String): JValue = {
    val p = new Parser(s)
    val v = p.parseValue()
    p.skipWs()
    if (!p.atEnd) throw new IllegalArgumentException(s"trailing data in json: $s")
    v
  }

  private final class Parser(s: String) {
    private var i = 0
    def atEnd: Boolean = i >= s.length
    def skipWs(): Unit = while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    private def fail(msg: String) = throw new IllegalArgumentException(s"invalid json at $i: $msg")

    def parseValue(): JValue = {
      skipWs()
      if (atEnd) fail("unexpected end")
      s.charAt(i) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => JStr(parseString())
        case 't' => expect("true"); JBool(true)
        case 'f' => expect("false"); JBool(false)
        case 'n' => expect("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => parseNumber()
        case c => fail(s"unexpected char '$c'")
      }
    }

    private def expect(word: String): Unit = {
      if (!s.regionMatches(i, word, 0, word.length)) fail(s"expected $word")
      i += word.length
    }

    private def parseObject(): JValue = {
      i += 1; skipWs()
      val buf = new ArrayBuffer[(String, JValue)]()
      if (!atEnd && s.charAt(i) == '}') { i += 1; return JObj(Vector.empty) }
      while (true) {
        skipWs()
        if (atEnd || s.charAt(i) != '"') fail("expected object key")
        val k = parseString()
        skipWs()
        if (atEnd || s.charAt(i) != ':') fail("expected ':'")
        i += 1
        val v = parseValue()
        buf += ((k, v))
        skipWs()
        if (atEnd) fail("unterminated object")
        s.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; return mkObj(buf)
          case c   => fail(s"unexpected '$c' in object")
        }
      }
      JNull // unreachable
    }

    private def parseArray(): JValue = {
      i += 1; skipWs()
      val buf = new ArrayBuffer[JValue]()
      if (!atEnd && s.charAt(i) == ']') { i += 1; return JArr(Vector.empty) }
      while (true) {
        val v = parseValue()
        buf += v
        skipWs()
        if (atEnd) fail("unterminated array")
        s.charAt(i) match {
          case ',' => i += 1
          case ']' => i += 1; return JArr(buf.toVector)
          case c   => fail(s"unexpected '$c' in array")
        }
      }
      JNull // unreachable
    }

    private def parseString(): String = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (true) {
        if (atEnd) fail("unterminated string")
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          if (atEnd) fail("bad escape")
          s.charAt(i) match {
            case '"'  => sb += '"'; i += 1
            case '\\' => sb += '\\'; i += 1
            case '/'  => sb += '/'; i += 1
            case 'b'  => sb += '\b'; i += 1
            case 'f'  => sb += '\f'; i += 1
            case 'n'  => sb += '\n'; i += 1
            case 'r'  => sb += '\r'; i += 1
            case 't'  => sb += '\t'; i += 1
            case 'u'  =>
              // surrogate validation per the reference (jsonapi.c:684-
              // 768, error texts json_encoding.out:56-68): a high
              // surrogate must combine with an IMMEDIATELY following
              // \u low surrogate; orphans and code point zero error
              // out (our TEXT analog cannot hold NUL either). This also
              // guarantees JValue strings never hold lone surrogates,
              // which is what makes the UTF-8 sort-key encoding
              // (JsonbSortKeyRT) exactly order-parallel to
              // codepointCmp — String.getBytes(UTF_8) mangles lone
              // surrogates to '?'.
              def hex4(at: Int): Int =
                Jsonb.hex4(s, at, () => fail("bad \\u escape"))
              if (i + 4 >= s.length) fail("bad \\u escape")
              val ch = hex4(i + 1)
              i += 5
              if (ch >= 0xD800 && ch <= 0xDBFF) {
                if (i + 5 < s.length && s.charAt(i) == '\\' &&
                    s.charAt(i + 1) == 'u') {
                  val lo = hex4(i + 2)
                  if (lo >= 0xDC00 && lo <= 0xDFFF) {
                    sb += ch.toChar; sb += lo.toChar; i += 6
                  } else if (lo >= 0xD800 && lo <= 0xDBFF)
                    fail("Unicode high surrogate must not follow " +
                      "a high surrogate")
                  else fail("Unicode low surrogate must follow " +
                    "a high surrogate")
                } else fail("Unicode low surrogate must follow " +
                  "a high surrogate")
              } else if (ch >= 0xDC00 && ch <= 0xDFFF)
                fail("Unicode low surrogate must follow a high surrogate")
              else if (ch == 0)
                fail("unsupported Unicode escape sequence: \\u0000 " +
                  "cannot be converted to text")
              else sb += ch.toChar
            case c2 => fail(s"bad escape '\\$c2'")
          }
        } else { sb += c; i += 1 }
      }
      "" // unreachable
    }

    private def parseNumber(): JValue = {
      val start = i
      if (s.charAt(i) == '-') i += 1
      while (i < s.length && { val c = s.charAt(i); (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-' }) i += 1
      JNum(new JBigDecimal(s.substring(start, i)))
    }
  }

  /** PG jsonb object key order: length first, then bytewise (UTF-8). */
  def keyLt(a: String, b: String): Boolean = keyCmp(a, b) < 0
  def keyCmp(a: String, b: String): Int = {
    val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
    if (ab.length != bb.length) ab.length - bb.length
    else {
      var i = 0
      while (i < ab.length) {
        val d = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      0
    }
  }

  /** Build an object value: sort keys PG-style, last duplicate wins
    * (PG jsonb semantics for duplicate keys).
    */
  def mkObj(pairs: collection.Seq[(String, JValue)]): JObj = {
    val dedup = scala.collection.mutable.LinkedHashMap[String, JValue]()
    pairs.foreach { case (k, v) => dedup(k) = v }
    JObj(dedup.toVector.sortWith((x, y) => keyLt(x._1, y._1)))
  }

  // --------------------------------------------------------------- render

  def render(v: JValue, sb: StringBuilder): Unit = v match {
    case JDateTime(_, text) => renderString(text, sb)
    case JNull    => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JNum(n)  => sb.append(renderNum(n))
    case JStr(s)  => renderString(s, sb)
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { it =>
        if (!first) sb.append(", ")
        first = false
        render(it, sb)
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(", ")
        first = false
        renderString(k, sb)
        sb.append(": ")
        render(fv, sb)
      }
      sb.append('}')
  }

  /** numeric_out semantics: display scale preserved (7.0 -> "7.0");
    * negative scales (from E-notation) print plain ("6.02E23" ->
    * "602000000000000000000000").
    */
  def renderNum(n: JBigDecimal): String = {
    val adj = if (n.scale < 0) n.setScale(0) else n
    adj.toPlainString
  }

  def renderString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c2 if c2 < ' ' => sb.append(f"\\u${c2.toInt}%04x")
        case c2   => sb.append(c2)
      }
      i += 1
    }
    sb.append('"')
  }

  // -------------------------------------------------------------- compare

  /** Total order shaped like jsonb btree compare (jsonb_util.c
    * compareJsonbContainers + compareJsonbScalarValue), with one
    * deliberate divergence: strings order by CODEPOINT. The reference
    * btree compares strings with varstr_cmp under the database default
    * collation, so this order equals the reference's only under C
    * collation (UTF-8 byte order); the jsonpath half (compareStrings,
    * jsonpath_exec.c:2201) IS codepoint order, so that half is exact.
    * The codepoint choice is what makes the `__ps_` shred pushdown
    * exact: it equals UTF8String/parquet binary min/max order.
    */
  def compare(a: JValue, b: JValue): Int = {
    if (a.typeRank != b.typeRank) return Integer.compare(a.typeRank, b.typeRank)
    (a, b) match {
      case (JNull, JNull)         => 0
      case (JStr(x), JStr(y))     => strCmp(x, y)
      case (JNum(x), JNum(y))     => x.compareTo(y)
      case (JBool(x), JBool(y))   => java.lang.Boolean.compare(x, y)
      case (JArr(x), JArr(y))     =>
        if (x.length != y.length) Integer.compare(x.length, y.length)
        else {
          var i = 0
          while (i < x.length) {
            val c = compare(x(i), y(i))
            if (c != 0) return c
            i += 1
          }
          0
        }
      case (JObj(x), JObj(y))     =>
        if (x.length != y.length) Integer.compare(x.length, y.length)
        else {
          var i = 0
          while (i < x.length) {
            val ck = strCmp(x(i)._1, y(i)._1)
            if (ck != 0) return ck
            val cv = compare(x(i)._2, y(i)._2)
            if (cv != 0) return cv
            i += 1
          }
          0
        }
      case _ => 0 // unreachable: ranks matched
    }
  }

  /** String compare for VALUES: Unicode CODEPOINT order — the order of
    * a per-byte comparison of the UTF-8 encodings (varstr_cmp under C
    * collation with a UTF-8 server encoding; jsonpath's compareStrings
    * is defined this way outright, jsonpath_exec.c:2201). NOT
    * `String.compareTo`: UTF-16 code units sort supplementary
    * characters (U+10000+, surrogate pairs starting 0xD800) BELOW the
    * U+E000–U+FFFF range, codepoint order sorts them above. Parquet
    * min/max stats and Spark's UTF8String comparisons are UTF-8 binary
    * — i.e. THIS order — which is what makes the `__ps_` string-shred
    * range pushdown exact (Compiler.shredCmp / the jsonpath typed
    * guard).
    */
  def codepointCmp(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private def strCmp(a: String, b: String): Int = codepointCmp(a, b)

  // ------------------------------------------------------------ contains

  /** jsonb containment `@>` (jsonb_op.c / JsonbDeepContains). */
  def contains(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JObj(_), JObj(bf)) =>
      val ao = a.asInstanceOf[JObj]
      bf.forall { case (k, bv) => ao.get(k).exists(av => containsVal(av, bv)) }
    case (JArr(ai), JArr(bi)) =>
      bi.forall(bv => ai.exists(av => containsVal(av, bv)))
    case (JArr(ai), scalar) if scalar.typeRank <= 3 =>
      ai.exists(av => compare(av, scalar) == 0)
    case _ => compare(a, b) == 0
  }

  private def containsVal(av: JValue, bv: JValue): Boolean = (av, bv) match {
    case (JObj(_), JObj(_)) | (JArr(_), JArr(_)) => contains(av, bv)
    case (JArr(_), _)                            => false // nested scalars must match exactly inside pair values
    case _                                       => compare(av, bv) == 0
  }

  /** jsonb existence `?` — top-level key or array element string. */
  def exists(a: JValue, key: String): Boolean = a match {
    case o: JObj  => o.get(key).isDefined
    case JArr(it) => it.exists { case JStr(s) => s == key; case _ => false }
    case JStr(s)  => s == key
    case _        => false
  }

  // ----------------------------------------------------------- arithmetic

  private def invalidOp(op: String, l: JValue, r: JValue): Nothing =
    throw new IllegalArgumentException(
      s"invalid expression: ${l.render} $op ${r.render}")
  private def invalidUnary(op: String, r: JValue): Nothing =
    throw new IllegalArgumentException(s"invalid expression: $op${r.render}")

  /** `+` — cypher_ops.c jsonb_add: number+number, string concat,
    * string+number concat, list concat via jsonb_concat; scalar/object
    * `+` combos error.
    */
  def add(l: JValue, r: JValue): JValue = (l, r) match {
    case (JNum(a), JNum(b)) => JNum(a.add(b))
    case (JStr(a), JStr(b)) => JStr(a + b)
    case (JStr(a), JNum(b)) => JStr(a + renderNum(b))
    case (JNum(a), JStr(b)) => JStr(renderNum(a) + b)
    case (JArr(a), JArr(b)) => JArr(a ++ b)
    case (JArr(a), other)   => JArr(a :+ other)
    case (other, JArr(b))   => JArr(other +: b)
    case _                  => invalidOp("+", l, r)
  }

  private def num2(op: String, l: JValue, r: JValue): (JBigDecimal, JBigDecimal) =
    (l, r) match {
      case (JNum(a), JNum(b)) => (a, b)
      case _                  => invalidOp(op, l, r)
    }

  def sub(l: JValue, r: JValue): JValue = {
    val (a, b) = num2("-", l, r); JNum(a.subtract(b))
  }
  def mul(l: JValue, r: JValue): JValue = {
    val (a, b) = num2("*", l, r); JNum(a.multiply(b))
  }

  /** numeric.c select_div_scale: result scale gives >= 16 significant
    * digits and is >= either input's display scale; then cypher_ops.c
    * jnumber_op truncates to scale 0 when both inputs have scale 0
    * (integer division).
    */
  def div(l: JValue, r: JValue): JValue = {
    val (a, b) = num2("/", l, r)
    if (b.signum == 0) throw new ArithmeticException("division by zero")
    JNum(truncIfIntInputs(a, b, numericDiv(a, b)))
  }

  /** PG numeric_div (no integer truncation — that rule is Cypher's,
    * cypher_ops.c jnumber_op; jsonpath divides at full numeric scale).
    */
  def numericDiv(a: JBigDecimal, b: JBigDecimal): JBigDecimal =
    a.divide(b, divScale(a, b), RoundingMode.HALF_UP)

  def mod(l: JValue, r: JValue): JValue = {
    val (a, b) = num2("%", l, r)
    if (b.signum == 0) throw new ArithmeticException("division by zero")
    JNum(a.remainder(b))
  }

  /** numeric_power + the jnumber_op integer-trunc rule. */
  def pow(l: JValue, r: JValue): JValue = {
    val (a, b) = num2("^", l, r)
    val res: JBigDecimal =
      if (b.stripTrailingZeros.scale <= 0 && b.abs.compareTo(new JBigDecimal(1000)) <= 0) {
        val e = b.intValueExact()
        if (e >= 0) a.pow(e)
        else JBigDecimal.ONE.divide(a.pow(-e), 16 + a.scale * (-e), RoundingMode.HALF_UP)
      } else {
        new JBigDecimal(Math.pow(a.doubleValue(), b.doubleValue()), MathContext.DECIMAL64)
      }
    JNum(truncIfIntInputs(a, b, res))
  }

  def uminus(r: JValue): JValue = r match {
    case JNum(n) => JNum(n.negate)
    case _       => invalidUnary("-", r)
  }
  def uplus(r: JValue): JValue = r match {
    case JNum(_) => r
    case _       => invalidUnary("+", r)
  }

  private def truncIfIntInputs(a: JBigDecimal, b: JBigDecimal, res: JBigDecimal): JBigDecimal =
    if (a.scale.max(0) + b.scale.max(0) == 0)
      res.setScale(0, RoundingMode.DOWN)
    else res

  /** Replica of numeric.c select_div_scale (base-10000 weights). */
  private def divScale(a: JBigDecimal, b: JBigDecimal): Int = {
    def w(x: JBigDecimal): (Int, Int) = { // (weight in base-10000 digits, first digit group)
      if (x.signum == 0) (0, 0)
      else {
        val u = x.abs.stripTrailingZeros
        // decimal exponent of most significant digit
        val msdExp = u.precision - u.scale - 1 // 10^msdExp <= u < 10^(msdExp+1)
        val weight = Math.floorDiv(msdExp, 4)
        // first base-10000 digit group (1..9999), like NumericVar digits[0]
        val fd = u.movePointLeft(weight * 4).intValue()
        (weight, fd)
      }
    }
    val (w1, f1) = w(a)
    val (w2, f2) = w(b)
    var qweight = w1 - w2
    if (f1 <= f2) qweight -= 1
    var rscale = 16 - qweight * 4
    rscale = Math.max(rscale, a.scale.max(0))
    rscale = Math.max(rscale, b.scale.max(0))
    rscale = Math.max(rscale, 0)
    Math.min(rscale, 1000)
  }

  // ---------------------------------------------------------------- casts

  /** jsonb -> bool (pg_cast.dat:517; falsy: '' 0 false [] {} null). */
  def toBool(v: JValue): java.lang.Boolean = v match {
    case JNull        => null
    // evaluation-only jsonpath datetime: truthy like its text form
    case JDateTime(_, text) => text.nonEmpty
    case JBool(b)     => b
    case JNum(n)      => n.signum != 0
    case JStr(s)      => s.nonEmpty
    case JArr(items)  => items.nonEmpty
    case JObj(fields) => fields.nonEmpty
  }

  // ------------------------------------------------- path mutation fns
  // jsonb_set / jsonb_insert / jsonb_set_lax (jsonfuncs.c setPath;
  // tests jsonb.sql:1116-1230). Paths are PG text[] literals; a SQL
  // NULL element raises, array elements must parse as integers,
  // negative indexes count from the end, out-of-range indexes
  // prepend/append (create mode), and a missing INTERMEDIATE step
  // leaves the target unchanged.

  final class JsonbFnError(msg: String) extends RuntimeException(msg) {
    override def fillInStackTrace(): Throwable = this
  }
  private def fnErr(msg: String): Nothing = throw new JsonbFnError(msg)

  /** Parse a PG text[] literal: `{a,"quoted elem",NULL,-33}`.
    * Elements: None = SQL NULL, Some(text) otherwise.
    */
  def parseTextArray(s: String): Vector[Option[String]] = {
    val t = s.trim
    if (!(t.startsWith("{") && t.endsWith("}")))
      fnErr(s"""malformed array literal: "$s"""")
    val body = t.substring(1, t.length - 1)
    if (body.trim.isEmpty) return Vector.empty
    def malformed(): Nothing = fnErr(s"""malformed array literal: "$s"""")
    val out = Vector.newBuilder[Option[String]]
    var i = 0
    def skipSp(): Unit =
      while (i < body.length && body.charAt(i) == ' ') i += 1
    var done = false
    while (!done) {
      skipSp()
      if (i < body.length && body.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (!closed) {
          if (i >= body.length) malformed()
          body.charAt(i) match {
            case '"' => closed = true
            case '\\' =>
              if (i + 1 >= body.length) malformed()
              sb += body.charAt(i + 1); i += 1
            case c => sb += c
          }
          i += 1
        }
        out += Some(sb.toString)
      } else {
        val start = i
        while (i < body.length && body.charAt(i) != ',') i += 1
        val raw = body.substring(start, i).trim
        // empty unquoted elements (trailing/double commas) are
        // malformed, like the reference's array_in
        if (raw.isEmpty) malformed()
        out += (if (raw.equalsIgnoreCase("NULL")) None else Some(raw))
      }
      skipSp()
      if (i >= body.length) done = true
      else if (body.charAt(i) == ',') i += 1 // next element must follow
      else malformed()
    }
    out.result()
  }

  /** jsonb_object's array argument (jsonfuncs.c jsonb_object /
    * jsonb_object_two_arg): a 1-D alternating-pairs literal or a 2-D
    * pair-per-row literal. Left = 1-D elements, Right = 2-D rows.
    * Three or more dimensions raise the reference's "wrong number of
    * array subscripts".
    */
  def parseTextArrayNd(s: String): Either[Vector[Option[String]], Vector[Vector[Option[String]]]] = {
    val t = s.trim
    if (!(t.startsWith("{") && t.endsWith("}")))
      fnErr(s"""malformed array literal: "$s"""")
    val inner = t.substring(1, t.length - 1).trim
    if (!inner.startsWith("{")) return Left(parseTextArray(t))
    val rows = Vector.newBuilder[Vector[Option[String]]]
    var i = 0
    while (i < inner.length) {
      while (i < inner.length &&
        (inner.charAt(i) == ' ' || inner.charAt(i) == ',')) i += 1
      if (i < inner.length) {
        if (inner.charAt(i) != '{') fnErr(s"""malformed array literal: "$s"""")
        val start = i
        var depth = 0
        var inq = false
        var end = -1
        while (end < 0) {
          if (i >= inner.length) fnErr(s"""malformed array literal: "$s"""")
          val c = inner.charAt(i)
          if (inq) {
            if (c == '\\') i += 1 else if (c == '"') inq = false
          } else c match {
            case '"' => inq = true
            case '{' =>
              depth += 1
              // a brace inside a row is a third dimension
              if (depth > 1) fnErr("wrong number of array subscripts")
            case '}' => depth -= 1; if (depth == 0) end = i
            case _ => ()
          }
          i += 1
        }
        rows += parseTextArray(inner.substring(start, end + 1))
      }
    }
    Right(rows.result())
  }

  private sealed trait PathOp
  private case class SetOp(nv: JValue, create: Boolean) extends PathOp
  private case class InsertOp(nv: JValue, after: Boolean) extends PathOp
  private case object DeleteOp extends PathOp

  private def pathElem(path: Vector[Option[String]], i: Int): String =
    path(i).getOrElse(fnErr(s"path element at position ${i + 1} is null"))

  private def arrayIndex(path: Vector[Option[String]], i: Int): Int = {
    val e = pathElem(path, i)
    try e.toInt
    catch {
      case _: NumberFormatException =>
        fnErr(s"""path element at position ${i + 1} is not an integer: "$e"""")
    }
  }

  private def mutate(cur: JValue, path: Vector[Option[String]], i: Int,
      op: PathOp): JValue = {
    val last = i == path.length - 1
    cur match {
      case o @ JObj(fields) =>
        val k = pathElem(path, i)
        o.get(k) match {
          case Some(child) =>
            if (!last)
              JObj(fields.map { case (fk, fv) =>
                if (fk == k) (fk, mutate(fv, path, i + 1, op)) else (fk, fv) })
            else op match {
              case SetOp(nv, _) =>
                JObj(fields.map { case (fk, fv) =>
                  if (fk == k) (fk, nv) else (fk, fv) })
              case InsertOp(_, _) => fnErr("cannot replace existing key")
              case DeleteOp => JObj(fields.filterNot(_._1 == k))
            }
          case None =>
            if (!last) cur // missing intermediate: unchanged
            else op match {
              case SetOp(nv, create) =>
                if (create) mkObj(fields :+ (k -> nv)) else cur
              case InsertOp(nv, _) => mkObj(fields :+ (k -> nv))
              case DeleteOp => cur
            }
        }
      case JArr(items) =>
        val raw = arrayIndex(path, i)
        val idx = if (raw < 0) items.length + raw else raw
        if (!last) {
          if (idx >= 0 && idx < items.length)
            JArr(items.updated(idx, mutate(items(idx), path, i + 1, op)))
          else cur
        } else op match {
          case SetOp(nv, create) =>
            if (idx >= 0 && idx < items.length) JArr(items.updated(idx, nv))
            else if (!create) cur
            else if (idx < 0) JArr(nv +: items)
            else JArr(items :+ nv)
          case InsertOp(nv, after) =>
            if (idx >= 0 && idx < items.length) {
              val at = if (after) idx + 1 else idx
              JArr((items.take(at) :+ nv) ++ items.drop(at))
            } else if (idx < 0) JArr(nv +: items)
            else JArr(items :+ nv)
          case DeleteOp =>
            if (idx >= 0 && idx < items.length)
              JArr(items.patch(idx, Nil, 1))
            else cur
        }
      case _ => cur // scalar mid-path: unchanged
    }
  }

  private def checkRoot(target: JValue): Unit =
    if (!target.isInstanceOf[JObj] && !target.isInstanceOf[JArr])
      fnErr("cannot set path in scalar")

  def setPath(target: JValue, path: Vector[Option[String]], nv: JValue,
      createMissing: Boolean): JValue = {
    checkRoot(target)
    if (path.isEmpty) target
    else mutate(target, path, 0, SetOp(nv, createMissing))
  }

  def insertPath(target: JValue, path: Vector[Option[String]], nv: JValue,
      insertAfter: Boolean): JValue = {
    checkRoot(target)
    if (path.isEmpty) target
    else mutate(target, path, 0, InsertOp(nv, insertAfter))
  }

  def deleteAtPath(target: JValue, path: Vector[Option[String]]): JValue = {
    checkRoot(target)
    if (path.isEmpty) target
    else mutate(target, path, 0, DeleteOp)
  }

  /** `#>` path extraction (jsonfuncs.c get_jsonb_path_all): objects by
    * key, arrays by integer index (negative counts from the end), no
    * auto-wrap, any miss / NULL element / non-integer array step
    * yields SQL NULL (returned as Scala null), never an error.
    */
  def getPath(target: JValue, path: Vector[Option[String]]): JValue = {
    var cur = target
    var i = 0
    while (i < path.length) {
      path(i) match {
        case None => return null
        case Some(k) =>
          cur match {
            case o: JObj =>
              o.get(k) match {
                case Some(x) => cur = x
                case None    => return null
              }
            case JArr(items) =>
              val raw =
                try k.trim.toInt
                catch { case _: NumberFormatException => return null }
              val idx = if (raw < 0) items.length + raw else raw
              if (idx < 0 || idx >= items.length) return null
              cur = items(idx)
            case _ => return null
          }
      }
      i += 1
    }
    cur
  }

  /** jsonb_strip_nulls: remove object fields with null values,
    * recursively; array nulls stay (jsonfuncs.c jsonb_strip_nulls).
    */
  def stripNulls(v: JValue): JValue = v match {
    case JObj(fields) =>
      JObj(fields.collect {
        case (k, fv) if fv != JNull => (k, stripNulls(fv))
      })
    case JArr(items) => JArr(items.map(stripNulls))
    case other       => other
  }

  /** jsonb_pretty: 4-space indent, one item per line, empty containers
    * inline (jsonfuncs.c jsonb_pretty / JsonbToCStringIndent).
    */
  def pretty(v: JValue): String = {
    val sb = new StringBuilder
    def indent(n: Int): Unit = { var i = 0; while (i < n) { sb ++= "    "; i += 1 } }
    def walk(x: JValue, level: Int): Unit = x match {
      case JObj(fields) if fields.nonEmpty =>
        sb ++= "{\n"
        fields.zipWithIndex.foreach { case ((k, fv), i) =>
          indent(level + 1)
          renderString(k, sb); sb ++= ": "
          walk(fv, level + 1)
          if (i < fields.length - 1) sb += ','
          sb += '\n'
        }
        indent(level); sb += '}'
      case JArr(items) if items.nonEmpty =>
        sb ++= "[\n"
        items.zipWithIndex.foreach { case (it, i) =>
          indent(level + 1)
          walk(it, level + 1)
          if (i < items.length - 1) sb += ','
          sb += '\n'
        }
        indent(level); sb += ']'
      case other => render(other, sb)
    }
    walk(v, 0)
    sb.toString
  }

  /** jsonb_typeof (jsonfuncs.c jsonb_typeof). */
  def typeName(v: JValue): String = v match {
    case JNull         => "null"
    case _: JStr       => "string"
    case _: JNum       => "number"
    case _: JBool      => "boolean"
    case _: JArr       => "array"
    case _: JObj       => "object"
    case _: JDateTime  => "string" // never stored; text form
  }

  /** Cypher toBoolean(): strings 'true'/'false', bools pass, else null. */
  def cypherToBoolean(v: JValue): JValue = v match {
    case JBool(_)      => v
    case JStr("true")  => JBool(true)
    case JStr("false") => JBool(false)
    case _             => JNull
  }

  def asNumeric(v: JValue): JBigDecimal = v match {
    case JNum(n) => n
    case JStr(s) => try new JBigDecimal(s.trim) catch { case _: NumberFormatException => null }
    case JBool(b) => if (b) JBigDecimal.ONE else JBigDecimal.ZERO
    case _       => null
  }
}
