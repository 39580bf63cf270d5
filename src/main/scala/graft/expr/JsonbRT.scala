package graft.expr

import graft.jsonb._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime for the jsonb functions of [[JsonbFns]]: each is one
  * static call, from interpreted eval and generated code alike (a
  * `StaticInvoke`, so the expressions stay inside whole-stage codegen).
  *
  * All inputs/outputs are canonical-JSON UTF8Strings; a Java `null`
  * is SQL NULL (distinct from jsonb `"null"` — reference:
  * parse_cypher_expr.c:17-19 "We use SQL NULL instead of 'null'::jsonb").
  * A strict function never sees a null argument; the non-strict ones
  * (their table rows say `strict = false`) state their null rule here.
  */
object JsonbRT {
  /** Tiny per-thread memo: expression trees touch the same properties
    * string several times per row (n.a = 1 AND n.b = 2 parses twice);
    * JValues are immutable so sharing is safe. Two slots cover the
    * typical binary-op case (left/right operands).
    */
  private final class Memo {
    var k1: String = null; var v1: JValue = null
    var k2: String = null; var v2: JValue = null
    def get(s: String): JValue =
      if (s == k1) v1
      else if (s == k2) v2
      else {
        val parsed = Jsonb.parse(s)
        k2 = k1; v2 = v1
        k1 = s; v1 = parsed
        parsed
      }
  }
  private val memo = new ThreadLocal[Memo] {
    override def initialValue(): Memo = new Memo
  }

  private def v(s: UTF8String): JValue = memo.get().get(s.toString)
  private def out(v: JValue): UTF8String = UTF8String.fromString(v.render)

  // arithmetic -------------------------------------------------------
  def add(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.add(v(l), v(r)))
  def sub(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.sub(v(l), v(r)))
  def mul(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.mul(v(l), v(r)))
  def div(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.div(v(l), v(r)))
  def mod(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.mod(v(l), v(r)))
  def pow(l: UTF8String, r: UTF8String): UTF8String = out(Jsonb.pow(v(l), v(r)))
  def uminus(r: UTF8String): UTF8String = out(Jsonb.uminus(v(r)))
  def uplus(r: UTF8String): UTF8String = out(Jsonb.uplus(v(r)))

  // compare (jsonb btree order) -------------------------------------
  def cmp(l: UTF8String, r: UTF8String): Int = Jsonb.compare(v(l), v(r))
  def typeRank(l: UTF8String): Int = v(l).typeRank

  // containment / existence -----------------------------------------
  def contains(l: UTF8String, r: UTF8String): Boolean = Jsonb.contains(v(l), v(r))
  def existsKey(l: UTF8String, k: UTF8String): Boolean = Jsonb.exists(v(l), k.toString)

  // access -----------------------------------------------------------
  /** Object field / array index access (`n.k`, `l[i]`); SQL NULL when
    * missing. Mirrors jsonb `->`.
    */
  def get(l: UTF8String, key: UTF8String): UTF8String = {
    val kv = Jsonb.parse(key.toString) // key arrives as a jsonb value
    val res = (v(l), kv) match {
      case (o: JObj, JStr(k)) => o.get(k).orNull
      case (JArr(items), JNum(n)) =>
        val i0 = n.intValue
        val i = if (i0 < 0) items.length + i0 else i0
        if (i >= 0 && i < items.length) items(i) else null
      case _ => null
    }
    if (res == null) null else out(res)
  }

  /** List slice `l[a..b]` with Cypher/Python-style negatives; null
    * bounds mean open ends, a null list gives null.
    */
  def slice(l: UTF8String, from: UTF8String, to: UTF8String): UTF8String =
    if (l == null) null
    else v(l) match {
      case JArr(items) =>
        def bound(b: UTF8String, dflt: Int): Int =
          if (b == null) dflt
          else Jsonb.parse(b.toString) match {
            case JNum(n) =>
              val i = n.intValue
              if (i < 0) Math.max(0, items.length + i) else Math.min(i, items.length)
            case _ => dflt
          }
        val s = bound(from, 0)
        val e = bound(to, items.length)
        out(JArr(if (s >= e) Vector.empty else items.slice(s, e)))
      case _ => null
    }

  /** jsonb || (concat) — object merge / array concat (SET += uses it). */
  def concat(l: UTF8String, r: UTF8String): UTF8String = {
    val res = (v(l), v(r)) match {
      case (JObj(a), JObj(b)) => Jsonb.mkObj(a ++ b)
      case (JArr(a), JArr(b)) => JArr(a ++ b)
      case (JArr(a), b)       => JArr(a :+ b)
      case (a, JArr(b))       => JArr(a +: b)
      case (a, b)             => JArr(Vector(a, b))
    }
    out(res)
  }

  /** jsonb - key (delete key/element). */
  def deleteKey(l: UTF8String, k: UTF8String): UTF8String = v(l) match {
    case JObj(fields) => out(JObj(fields.filterNot(_._1 == k.toString)))
    case JArr(items)  => out(JArr(items.filterNot {
      case JStr(s) => s == k.toString
      case _ => false
    }))
    // the reference errors rather than no-ops (jsonb.out:4445-4446)
    case _ => throw new Jsonb.JsonbFnError("cannot delete from scalar")
  }

  /** `jsonb - int`: delete the array element at index (negative wraps,
    * out-of-range no-op). Reference: jsonb_delete_idx, jsonfuncs.c;
    * jsonb.out:4289-4333,4459-4462.
    */
  def deleteIdx(l: UTF8String, idx: Long): UTF8String = v(l) match {
    case JArr(items) =>
      // long arithmetic end-to-end: a bigint index beyond int range is
      // simply out of range (no-op), never a truncated in-range delete
      val i = if (idx < 0) items.length + idx else idx
      if (i < 0 || i >= items.length) out(JArr(items))
      else out(JArr(items.patch(i.toInt, Nil, 1)))
    case _: JObj =>
      throw new Jsonb.JsonbFnError(
        "cannot delete from object using integer index")
    case _ => throw new Jsonb.JsonbFnError("cannot delete from scalar")
  }

  /** jsonb ?| — any of the keys (jsonb array of strings) present. */
  def existsAny(l: UTF8String, keys: UTF8String): Boolean =
    v(keys) match {
      case JArr(ks) => ks.exists {
        case JStr(k) => Jsonb.exists(v(l), k)
        case _ => false
      }
      case _ => false
    }

  /** jsonb ?& — all of the keys present. */
  def existsAll(l: UTF8String, keys: UTF8String): Boolean =
    v(keys) match {
      case JArr(ks) => ks.nonEmpty && ks.forall {
        case JStr(k) => Jsonb.exists(v(l), k)
        case _ => false
      }
      case _ => false
    }

  /** jsonb #- path (delete the key/element at a path; jsonb_delete_path).
    * Scalar left errors like PG ("cannot delete path in scalar").
    */
  def deletePath(l: UTF8String, path: UTF8String): UTF8String = {
    def del(x: JValue, p: List[JValue]): JValue = p match {
      case Nil => x
      case step :: rest => (x, step) match {
        case (JObj(fields), JStr(k)) =>
          if (rest.isEmpty) JObj(fields.filterNot(_._1 == k))
          else JObj(fields.map { case (fk, fv) =>
            if (fk == k) (fk, del(fv, rest)) else (fk, fv)
          })
        case (JArr(items), JNum(n)) =>
          val i0 = n.intValue
          val i = if (i0 < 0) items.length + i0 else i0
          if (i < 0 || i >= items.length) JArr(items)
          else if (rest.isEmpty) JArr(items.patch(i, Nil, 1))
          else JArr(items.updated(i, del(items(i), rest)))
        case (other, _) => other
      }
    }
    val root = v(l)
    root match {
      case _: JObj | _: JArr => ()
      case _ => throw new IllegalArgumentException(
        "cannot delete path in scalar")
    }
    val p = v(path) match {
      case JArr(items) => items.toList
      case single => List(single)
    }
    out(del(root, p))
  }

  /** Set/overwrite a top-level key (SET n.k = v); SQL-NULL value
    * deletes the key (Cypher REMOVE / SET n.k = NULL semantics). A null
    * object gives null; a null key leaves the object as it is.
    */
  def setKey(l: UTF8String, k: UTF8String, value: UTF8String): UTF8String = {
    if (l == null || k == null) return l
    val base = v(l) match {
      case JObj(fields) => fields
      case _            => Vector.empty[(String, JValue)]
    }
    val key = k.toString
    val cleaned = base.filterNot(_._1 == key)
    if (value == null) out(JObj(cleaned))
    else out(Jsonb.mkObj(cleaned :+ (key -> Jsonb.parse(value.toString))))
  }

  // casts -------------------------------------------------------------
  /** jsonb -> SQL text: strings unquote, others render as json. */
  def asText(l: UTF8String): UTF8String = v(l) match {
    case JNull   => null
    case JStr(s) => UTF8String.fromString(s)
    case other   => out(other)
  }

  /** jsonb -> bool cast ('' 0 false [] {} -> false). */
  def toBool(l: UTF8String): java.lang.Boolean = Jsonb.toBool(v(l))

  def asDouble(l: UTF8String): java.lang.Double = {
    val n = Jsonb.asNumeric(v(l))
    if (n == null) null else java.lang.Double.valueOf(n.doubleValue)
  }

  def asLong(l: UTF8String): java.lang.Long = {
    val n = Jsonb.asNumeric(v(l))
    if (n == null) null
    else java.lang.Long.valueOf(n.setScale(0, java.math.RoundingMode.DOWN).longValueExact)
  }

  /** SQL string -> jsonb string value (quote/escape). */
  def fromText(s: UTF8String): UTF8String = out(JStr(s.toString))
  def fromLong(x: Long): UTF8String = out(JNum(java.math.BigDecimal.valueOf(x)))
  def fromDouble(x: Double): UTF8String = out(JNum(new java.math.BigDecimal(x.toString)))
  def fromBool(b: Boolean): UTF8String = out(JBool(b))

  // misc scalar fns ---------------------------------------------------
  /** length(jsonb): string length / array length / object pair count
    * (cypher_funcs.c jsonb_length).
    */
  def length(l: UTF8String): java.lang.Long = v(l) match {
    case JStr(s)      => s.length.toLong
    case JArr(items)  => items.length.toLong
    case JObj(fields) => fields.length.toLong
    case _            => null
  }

  def keys(l: UTF8String): UTF8String = v(l) match {
    case JObj(fields) => out(JArr(fields.map(f => JStr(f._1))))
    case _            => null
  }

  def head(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) => if (items.isEmpty) null else out(items.head)
    case _           => null
  }
  def last(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) => if (items.isEmpty) null else out(items.last)
    case _           => null
  }
  def tail(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) => out(JArr(if (items.isEmpty) items else items.tail))
    case _           => null
  }

  def cypherToBoolean(l: UTF8String): UTF8String = {
    val r = Jsonb.cypherToBoolean(v(l))
    if (r == JNull) null else out(r)
  }

  // array folds (DISTINCT aggregate support: aggregate the collected
  // array after jsonb-order dedup) --------------------------------
  def arrayDistinct(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) =>
      // sorted output in jsonb order — PG evaluates DISTINCT aggregates
      // over sorted input, and sorting also makes the result independent
      // of partition merge order
      val out = scala.collection.mutable.ArrayBuffer[JValue]()
      items.sortWith((a, b) => Jsonb.compare(a, b) < 0).foreach { it =>
        if (out.isEmpty || Jsonb.compare(out.last, it) != 0) out += it
      }
      this.out(JArr(out.toVector))
    case _ => null
  }

  def arraySum(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) =>
      val nums = items.collect { case JNum(n) => n }
      if (nums.isEmpty) null
      else this.out(JNum(nums.reduce(_.add(_))))
    case _ => null
  }

  def arrayAvg(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) =>
      val nums = items.collect { case JNum(n) => n }
      if (nums.isEmpty) null
      else this.out(Jsonb.div(JNum(nums.reduce(_.add(_))),
        JNum(java.math.BigDecimal.valueOf(nums.size.toLong))))
    case _ => null
  }

  def arrayMin(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) if items.nonEmpty =>
      this.out(items.reduce((a, b) => if (Jsonb.compare(a, b) <= 0) a else b))
    case _ => null
  }

  def arrayMax(l: UTF8String): UTF8String = v(l) match {
    case JArr(items) if items.nonEmpty =>
      this.out(items.reduce((a, b) => if (Jsonb.compare(a, b) >= 0) a else b))
    case _ => null
  }

  def cypherToString(l: UTF8String): UTF8String = v(l) match {
    case JStr(_)  => l
    case JNum(n)  => out(JStr(Jsonb.renderNum(n)))
    case JBool(b) => out(JStr(if (b) "true" else "false"))
    case _        => null
  }

  // jsonb mutation/catalog fns (jsonfuncs.c; tests jsonb.sql:1116-).
  // Paths are PG text[] literals.

  def jsonbSet(t: UTF8String, path: UTF8String, nv: UTF8String,
      create: Boolean): UTF8String =
    out(Jsonb.setPath(v(t), Jsonb.parseTextArray(path.toString), v(nv), create))

  def jsonbInsert(t: UTF8String, path: UTF8String, nv: UTF8String,
      after: Boolean): UTF8String =
    out(Jsonb.insertPath(v(t), Jsonb.parseTextArray(path.toString), v(nv), after))

  /** jsonb_set_lax: `nv` may be SQL NULL; treatment decides what that
    * means (use_json_null default). A null target or path gives null.
    */
  def jsonbSetLax(t: UTF8String, path: UTF8String, nv: UTF8String,
      create: Boolean, treatment: UTF8String): UTF8String = {
    if (t == null || path == null) return null
    // reference order (jsonfuncs.c jsonb_set_lax): an explicit SQL
    // NULL treatment always errors; a non-null new value then
    // delegates to jsonb_set WITHOUT validating the treatment string;
    // an invalid treatment only surfaces when the null path is taken
    val treatmentErr = "null_value_treatment must be \"delete_key\", " +
      "\"return_target\", \"use_json_null\", or \"raise_exception\""
    if (treatment == null) throw new Jsonb.JsonbFnError(treatmentErr)
    if (nv != null) return jsonbSet(t, path, nv, create)
    val tr = treatment.toString
    if (!Set("delete_key", "return_target", "use_json_null",
        "raise_exception").contains(tr))
      throw new Jsonb.JsonbFnError(treatmentErr)
    tr match {
      case "use_json_null" =>
        out(Jsonb.setPath(v(t), Jsonb.parseTextArray(path.toString), JNull, create))
      // canonical render, not the verbatim input text — every jsonb
      // column in this engine carries canonical strings
      case "return_target" => out(v(t))
      case "delete_key" =>
        out(Jsonb.deleteAtPath(v(t), Jsonb.parseTextArray(path.toString)))
      case "raise_exception" =>
        throw new Jsonb.JsonbFnError("JSON value must not be null")
    }
  }

  /** jsonb_each as an array: one {"key": k, "value": v} object per
    * field (the reference's SRF returns (key, value) rows; explode the
    * array for the row form — Spark has no SRF registration surface).
    * Returns ArrayData directly: no intermediate array render+reparse.
    */
  def eachRows(l: UTF8String): ArrayData =
    v(l) match {
      case JObj(fields) =>
        new GenericArrayData(
          fields.map { case (k, fv) =>
            UTF8String.fromString(
              Jsonb.mkObj(Seq("key" -> JStr(k), "value" -> fv)).render)
          }.toArray[Any])
      case _ =>
        throw new Jsonb.JsonbFnError("cannot call jsonb_each on a non-object")
    }

  /** jsonb_array_elements input guard: the reference errors on
    * non-array inputs rather than returning NULL.
    */
  def assertElementsArray(l: UTF8String): UTF8String = v(l) match {
    case _: JArr => l
    case _: JObj =>
      throw new Jsonb.JsonbFnError("cannot extract elements from an object")
    case _ =>
      throw new Jsonb.JsonbFnError("cannot extract elements from a scalar")
  }

  /** `#>` / `#>>` — path as a PG text[] literal (same convention as
    * jsonb_set); the text form unquotes strings and maps JSON null to
    * SQL NULL.
    */
  def getPathJ(l: UTF8String, path: UTF8String): UTF8String = {
    val r = Jsonb.getPath(v(l), Jsonb.parseTextArray(path.toString))
    if (r == null) null else out(r)
  }
  def getPathText(l: UTF8String, path: UTF8String): UTF8String = {
    Jsonb.getPath(v(l), Jsonb.parseTextArray(path.toString)) match {
      case null    => null
      case JNull   => null
      case JStr(s) => UTF8String.fromString(s)
      case other   => out(other)
    }
  }

  /** jsonb_extract_path(_text): variadic key form of `#>`. A null
    * document gives null; a null key matches nothing (the reference's
    * strict call gives the same observable result).
    */
  def extractPath(l: UTF8String, keys: ArrayData, text: Boolean): UTF8String =
    if (l == null) null
    else extractPath(l, Array.tabulate(keys.numElements)(keys.getUTF8String), text)
  def extractPath(l: UTF8String, keys: Array[UTF8String],
      text: Boolean): UTF8String = {
    val path = keys.iterator.map(k =>
      if (k == null) None else Some(k.toString)).toVector
    Jsonb.getPath(v(l), path) match {
      case null  => null
      case JNull => if (text) null else out(JNull)
      case JStr(s) if text => UTF8String.fromString(s)
      case other => out(other)
    }
  }

  /** jsonb_each_text as an array of {"key": k, "value": v} objects
    * where v is the TEXT rendering (strings unquoted, JSON null ->
    * JSON null so `->> 'value'` reads SQL NULL, containers/numbers
    * canonical). Reference: jsonfuncs.c each_worker_jsonb(as_text).
    */
  def eachTextRows(l: UTF8String): ArrayData =
    v(l) match {
      case JObj(fields) =>
        new GenericArrayData(
          fields.map { case (k, fv) =>
            val tv = fv match {
              case JNull   => JNull
              case JStr(s) => JStr(s)
              case other   => JStr(other.render)
            }
            UTF8String.fromString(
              Jsonb.mkObj(Seq("key" -> JStr(k), "value" -> tv)).render)
          }.toArray[Any])
      case _ =>
        throw new Jsonb.JsonbFnError("cannot call jsonb_each_text on a non-object")
    }

  /** jsonb_array_length (errors on non-arrays, jsonfuncs.c). */
  def arrayLengthJ(l: UTF8String): Int = v(l) match {
    case JArr(items) => items.length
    case _: JObj =>
      throw new Jsonb.JsonbFnError("cannot get array length of a non-array")
    case _ =>
      throw new Jsonb.JsonbFnError("cannot get array length of a scalar")
  }

  /** jsonb_object_keys as an array of TEXT keys (SRF analog). */
  def objectKeysRows(l: UTF8String): ArrayData =
    v(l) match {
      case JObj(fields) =>
        new GenericArrayData(
          fields.map(f => UTF8String.fromString(f._1)).toArray[Any])
      case _: JArr =>
        throw new Jsonb.JsonbFnError(
          "cannot call jsonb_object_keys on an array")
      case _ =>
        throw new Jsonb.JsonbFnError(
          "cannot call jsonb_object_keys on a scalar")
    }

  /** jsonb_array_elements_text: array of TEXT elements (JSON null
    * becomes a SQL NULL element).
    */
  def arrayElementsText(l: UTF8String): ArrayData =
    v(l) match {
      case JArr(items) =>
        new GenericArrayData(
          items.map {
            case JNull   => null
            case JStr(s) => UTF8String.fromString(s)
            case other   => UTF8String.fromString(other.render)
          }.toArray[Any])
      case _: JObj =>
        throw new Jsonb.JsonbFnError("cannot extract elements from an object")
      case _ =>
        throw new Jsonb.JsonbFnError("cannot extract elements from a scalar")
    }

  // ------------------------------------------- jsonb constructor fns
  // jsonb_object / jsonb_build_object / jsonb_build_array / to_jsonb
  // (jsonfuncs.c jsonb_object, jsonb_build_object/array, to_jsonb;
  // jsonb.sql:1376-1640). Documented deviation: Spark has no
  // anyelement polymorphism and this engine carries jsonb as string
  // columns, so STRING arguments of the build fns and to_jsonb are
  // embedded as jsonb when they parse as json and quoted as text
  // otherwise (PG distinguishes by argument type); everything else
  // follows the reference's conversions and error texts.

  private def fnErr(msg: String): Nothing = throw new Jsonb.JsonbFnError(msg)

  private def objPairs(pairs: Seq[(Option[String], Option[String])]): UTF8String =
    out(Jsonb.mkObj(pairs.map { case (k, vv) =>
      (k.getOrElse(fnErr("null value not allowed for object key")),
        vv.map(s => JStr(s): JValue).getOrElse(JNull))
    }))

  /** jsonb_object(text[]): 1-D alternating pairs or 2-D pair rows. */
  def jsonbObject1(arr: UTF8String): UTF8String =
    Jsonb.parseTextArrayNd(arr.toString) match {
      case Left(elems) =>
        if (elems.length % 2 != 0)
          fnErr("array must have even number of elements")
        objPairs(elems.grouped(2).map(g => (g(0), g(1))).toSeq)
      case Right(rows) =>
        objPairs(rows.map { r =>
          if (r.length != 2) fnErr("array must have two columns")
          (r(0), r(1))
        })
    }

  /** jsonb_object(text[], text[]): parallel keys/values. */
  def jsonbObject2(keys: UTF8String, values: UTF8String): UTF8String = {
    def oneD(u: UTF8String): Vector[Option[String]] =
      Jsonb.parseTextArrayNd(u.toString) match {
        case Left(e)  => e
        case Right(_) => fnErr("wrong number of array subscripts")
      }
    val ks = oneD(keys)
    val vs = oneD(values)
    if (ks.length != vs.length) fnErr("mismatched array dimensions")
    objPairs(ks.zip(vs))
  }

  /** Spark value -> jsonb text (the to_jsonb conversion and the value
    * half of jsonb_build_*). Datetimes render ISO-8601 like PG's
    * datum_to_jsonb; non-finite doubles render as strings (PG errors —
    * kept total here since parquet data can carry them).
    */
  def toJsonbValue(x: Any, dt: org.apache.spark.sql.types.DataType): UTF8String =
    out(toJValue(x, dt))

  private def toJValue(x: Any, dt: org.apache.spark.sql.types.DataType): JValue = {
    import org.apache.spark.sql.types._
    if (x == null) return JNull
    dt match {
      case StringType =>
        val s = x.asInstanceOf[UTF8String].toString
        try Jsonb.parse(s) catch { case _: Throwable => JStr(s) }
      case BooleanType => JBool(x.asInstanceOf[Boolean])
      case ByteType    => JNum(java.math.BigDecimal.valueOf(x.asInstanceOf[Byte].toLong))
      case ShortType   => JNum(java.math.BigDecimal.valueOf(x.asInstanceOf[Short].toLong))
      case IntegerType => JNum(java.math.BigDecimal.valueOf(x.asInstanceOf[Int].toLong))
      case LongType    => JNum(java.math.BigDecimal.valueOf(x.asInstanceOf[Long]))
      case FloatType =>
        val f = x.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) JStr(f.toString)
        else JNum(new java.math.BigDecimal(f.toString))
      case DoubleType =>
        val d = x.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) JStr(d.toString)
        else JNum(java.math.BigDecimal.valueOf(d))
      case _: DecimalType =>
        JNum(x.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
      case DateType =>
        JStr(java.time.LocalDate.ofEpochDay(x.asInstanceOf[Int].toLong).toString)
      case TimestampType | TimestampNTZType =>
        val micros = x.asInstanceOf[Long]
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        val local = ldt.format(
          java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
        // TimestampType is an instant: mark the rendered wall time's
        // zone explicitly (UTC, like PG's timestamptz-with-offset
        // rendering) so it can't be misread as session-local time.
        // NTZ has no zone by definition and stays bare.
        JStr(if (dt == TimestampNTZType) local else local + "+00:00")
      case ArrayType(et, _) =>
        val a = x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        JArr((0 until a.numElements()).toVector.map { i =>
          if (a.isNullAt(i)) JNull else toJValue(a.get(i, et), et)
        })
      case st: StructType =>
        val r = x.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        Jsonb.mkObj(st.fields.toSeq.zipWithIndex.map { case (f, i) =>
          f.name -> (if (r.isNullAt(i)) JNull
            else toJValue(r.get(i, f.dataType), f.dataType))
        })
      case MapType(StringType, vt, _) =>
        val m = x.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ka = m.keyArray(); val va = m.valueArray()
        Jsonb.mkObj((0 until m.numElements()).map { i =>
          ka.getUTF8String(i).toString -> (if (va.isNullAt(i)) JNull
            else toJValue(va.get(i, vt), vt))
        })
      case other =>
        fnErr(s"cannot convert ${other.simpleString} to jsonb")
    }
  }

  /** The key half of jsonb_build_object: scalars render as text,
    * container keys raise the reference's error (a SQL NULL key stays
    * NULL; `buildFromParts` knows its position).
    */
  def keyText(x: Any, dt: org.apache.spark.sql.types.DataType): UTF8String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => x.asInstanceOf[UTF8String]
      case _: ArrayType | _: StructType | _: MapType =>
        fnErr("key value must be scalar, not array, composite, or json")
      case _ => toJValue(x, dt) match {
        case JStr(s) => UTF8String.fromString(s)
        case other   => UTF8String.fromString(other.render)
      }
    }
  }

  /** Assemble jsonb_build_object/array from pre-converted parts
    * (object: alternating key text / value jsonb; null value = jsonb
    * null, null key = the reference's error naming its argument).
    */
  def buildFromParts(obj: Boolean, parts: ArrayData): UTF8String = {
    def value(i: Int): JValue =
      if (parts.isNullAt(i)) JNull else Jsonb.parse(parts.getUTF8String(i).toString)
    val n = parts.numElements
    if (obj)
      out(Jsonb.mkObj((0 until n by 2).map { i =>
        if (parts.isNullAt(i)) fnErr(s"argument ${i + 1}: key must not be null")
        parts.getUTF8String(i).toString -> value(i + 1)
      }))
    else out(JArr((0 until n).toVector.map(value)))
  }

  def stripNullsJ(l: UTF8String): UTF8String = out(Jsonb.stripNulls(v(l)))
  def prettyJ(l: UTF8String): UTF8String =
    UTF8String.fromString(Jsonb.pretty(v(l)))
  def typeofJ(l: UTF8String): UTF8String =
    UTF8String.fromString(Jsonb.typeName(v(l)))

  // SQL/JSON path (reference: jsonb_path_* / @? / @@, jsonpath_exec.c).
  // `vars` may be SQL NULL; `silent` suppresses evaluation errors.
  // Paths are compiled once per distinct text (JsonPath.parse caches).

  // vars are query constants; routing them through the 2-slot row memo
  // would evict them on alternating rows (doc occupies a slot per row)
  private val varsCache =
    new java.util.concurrent.ConcurrentHashMap[String, JValue]()
  private def varsOf(vars: UTF8String): JValue =
    if (vars == null) null
    else {
      val s = vars.toString
      val hit = varsCache.get(s)
      if (hit != null) hit
      else {
        val parsed = Jsonb.parse(s)
        if (varsCache.size > 1000) varsCache.clear() // bound the cache
        varsCache.putIfAbsent(s, parsed)
        parsed
      }
    }

  def jsonpathExists(doc: UTF8String, path: UTF8String, vars: UTF8String,
      silent: Boolean, tz: Boolean): java.lang.Boolean =
    if (doc == null || path == null) null
    else JsonPath.exists(v(doc), path.toString, varsOf(vars), silent, tz)

  def jsonpathMatch(doc: UTF8String, path: UTF8String, vars: UTF8String,
      silent: Boolean, tz: Boolean): java.lang.Boolean =
    if (doc == null || path == null) null
    else JsonPath.matches(v(doc), path.toString, varsOf(vars), silent, tz)

  def jsonpathQueryArray(doc: UTF8String, path: UTF8String, vars: UTF8String,
      silent: Boolean, tz: Boolean): UTF8String =
    if (doc == null || path == null) null
    else out(JsonPath.queryArray(v(doc), path.toString, varsOf(vars), silent, tz))

  def jsonpathQueryFirst(doc: UTF8String, path: UTF8String, vars: UTF8String,
      silent: Boolean, tz: Boolean): UTF8String = {
    if (doc == null || path == null) return null
    val r = JsonPath.queryFirst(v(doc), path.toString, varsOf(vars), silent, tz)
    if (r == null) null else out(r)
  }

  /** jsonb_path_query as a set: one jsonb text per result item, for
    * explode() — the reference's SRF row form (jsonb_path_query in
    * jsonpath_exec.c streams into a tuplestore).
    */
  def jsonpathQueryRows(doc: UTF8String, path: UTF8String, vars: UTF8String,
      silent: Boolean, tz: Boolean): ArrayData =
    if (doc == null || path == null) null
    else new GenericArrayData(
      JsonPath.queryStrings(v(doc), path.toString, varsOf(vars), silent, tz)
        .map(UTF8String.fromString).toArray[Any])

  // structural helpers ------------------------------------------------
  /** Re-canonicalize JSON text (key sort, duplicate removal). */
  def normalize(s: UTF8String): UTF8String =
    UTF8String.fromString(Jsonb.parse(s.toString).render)

  /** A jsonb array's elements as jsonb texts; null for a non-array. */
  def splitArray(s: UTF8String): ArrayData = Jsonb.parse(s.toString) match {
    case JArr(items) =>
      new GenericArrayData(items.map(i => UTF8String.fromString(i.render)).toArray[Any])
    case _ => null
  }

  /** The memcomparable sort key of a jsonb value. */
  def sortKey(s: UTF8String): Array[Byte] = JsonbSortKeyRT.sortKey(s)
}
