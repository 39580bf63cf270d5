package graft.expr

import org.apache.spark.unsafe.types.UTF8String

import graft.jsonb._

/** Memcomparable sort key for jsonb values: a byte string whose
  * UNSIGNED lexicographic order equals `Jsonb.compare`'s total order
  * (jsonb_util.c btree order) exactly — including the recursive
  * count-first container comparison that per-column (rank, numeric,
  * text) sort keys cannot express.
  *
  * A sort KEY (rather than a comparator) is the distributed-friendly
  * form: Spark range-partitions and sorts BinaryType unsigned
  * lexicographically, so ORDER BY on jsonb works across executors with
  * no custom physical operator.
  *
  * Encoding (all order-preserving under unsigned byte compare):
  *  - type byte 0x10 + rank (null < string < number < bool < array <
  *    object);
  *  - string: UTF-8 bytes (per-byte order == codepoint order, the
  *    engine's string collation — Jsonb.codepointCmp), 0x00 escaped
  *    as 0x00 0xFF, terminated by 0x00 0x00;
  *  - number: sign byte (0x01 neg / 0x02 zero / 0x03 pos); magnitude
  *    as big-endian (decimal exponent ^ Int.MinValue) then digits
  *    (0x01 + d) with 0x00 terminator; negative = positive-magnitude
  *    bytes inverted;
  *  - bool: one byte 0/1;
  *  - containers: int32 element/pair count big-endian (count-first
  *    compare), then self-delimiting element encodings (objects: key
  *    string payload then value, in stored (length, bytes) key order —
  *    the order Jsonb.compare iterates).
  */
object JsonbSortKeyRT {

  def sortKey(s: UTF8String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    write(Jsonb.parse(s.toString), out)
    out.toByteArray
  }

  private def write(v: JValue, out: java.io.ByteArrayOutputStream): Unit = {
    out.write(0x10 + v.typeRank)
    v match {
      case JNull => ()
      // evaluation-only jsonpath datetimes sort by their text form
      // (they never appear in stored jsonb; Jsonb.parse can't produce one)
      case JDateTime(_, text) => writeStr(text, out)
      case JStr(x) => writeStr(x, out)
      case JNum(n) => writeNum(n, out)
      case JBool(b) => out.write(if (b) 1 else 0)
      case JArr(items) =>
        writeInt(items.length, out)
        items.foreach(write(_, out))
      case JObj(fields) =>
        writeInt(fields.length, out)
        fields.foreach { case (k, fv) => writeStr(k, out); write(fv, out) }
    }
  }

  private def writeInt(n: Int, out: java.io.ByteArrayOutputStream): Unit = {
    out.write((n >>> 24) & 0xff); out.write((n >>> 16) & 0xff)
    out.write((n >>> 8) & 0xff); out.write(n & 0xff)
  }

  private def writeStr(s: String, out: java.io.ByteArrayOutputStream): Unit = {
    // UTF-8 bytes (per-byte order == codepoint order == Jsonb
    // .codepointCmp), the single possible 0x00 byte (U+0000) escaped
    // to 0x00 0xFF so the 0x00 0x00 terminator sorts before any
    // continuation (prefix < extension)
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b == 0) { out.write(0x00); out.write(0xff) } else out.write(b)
      i += 1
    }
    out.write(0x00); out.write(0x00)
  }

  private def writeNum(n: java.math.BigDecimal, out: java.io.ByteArrayOutputStream): Unit = {
    val sig = n.signum()
    if (sig == 0) { out.write(0x02); return }
    out.write(if (sig > 0) 0x03 else 0x01)
    val abs = n.abs().stripTrailingZeros()
    // value = 0.digits * 10^exp with first digit nonzero
    val exp = abs.precision() - abs.scale()
    val digits = abs.unscaledValue().toString
    val buf = new java.io.ByteArrayOutputStream(digits.length + 5)
    val e = exp ^ Int.MinValue // flip sign bit -> unsigned-ordered
    buf.write((e >>> 24) & 0xff); buf.write((e >>> 16) & 0xff)
    buf.write((e >>> 8) & 0xff); buf.write(e & 0xff)
    var i = 0
    while (i < digits.length) { buf.write(0x01 + (digits.charAt(i) - '0')); i += 1 }
    buf.write(0x00)
    val bytes = buf.toByteArray
    if (sig > 0) out.write(bytes, 0, bytes.length)
    else { // invert magnitude bytes: reverses order for negatives
      var j = 0
      while (j < bytes.length) { out.write(~bytes(j) & 0xff); j += 1 }
    }
  }
}
