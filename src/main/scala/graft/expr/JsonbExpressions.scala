package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One jsonb function (SURVEY §2.8, §4.3): a [[JsonbRT]] method and how
  * a call reaches it. A call evaluates as one `StaticInvoke` of the
  * method, which interpreted eval and generated code share, so plans
  * containing these stay inside whole-stage codegen.
  *
  * @param name     the lookup key, and the SQL name when `sql` holds
  * @param method   the JsonbRT method
  * @param dataType the method's result type
  * @param arity    accepted argument counts; a shorter call takes the
  *                 missing trailing arguments from `pad`
  * @param sql      registered as a Spark SQL function under `name`
  * @param pretty   the prettyName auto-named columns and the analyzed
  *                 plan show, when it differs from `name`
  * @param strict   SQL NULL in any argument gives NULL without a call.
  *                 A non-strict method receives the NULLs and applies
  *                 its own rule; an argument of a primitive Java type
  *                 (boolean, int, long) still propagates NULL
  * @param nullable the method may return null
  * @param args     the call's children to the method's arguments
  *                 (hidden constants, variadic keys as one array)
  * @param wrap     applied to the method's result (comparisons)
  */
final case class JsonbFn(name: String, method: String, dataType: DataType,
    arity: Range = 1 to 1, pad: Seq[Expression] = Nil, sql: Boolean = true,
    pretty: String = null, strict: Boolean = true, nullable: Boolean = true,
    args: Seq[Expression] => Seq[Expression] = identity,
    wrap: Expression => Expression = identity) {

  /** A call over `children`, padded; `caller` names the SQL function in
    * the wrong-arity error.
    */
  def call(children: Seq[Expression], caller: String = name): Expression = {
    JsonbFns.checkArity(caller, children, arity)
    JsonbCall(this, children ++ pad.drop(children.length - arity.start))
  }

  def apply(cols: Column*): Column =
    ColumnBridge.column(call(cols.map(ColumnBridge.expression)))

  /** The static call. An untyped NULL argument takes the type of its
    * position's default in `pad`, else jsonb text, so the method's
    * parameter types match.
    */
  def invoke(children: Seq[Expression]): Expression = {
    val typed = children.zipWithIndex.map {
      case (c, i) if c.dataType == NullType =>
        Cast(c, pad.lift(i - arity.start).fold[DataType](StringType)(_.dataType))
      case (c, _) => c
    }
    wrap(StaticInvoke(JsonbRT.getClass, dataType, method, args(typed),
      propagateNull = strict, returnNullable = nullable))
  }
}

/** A call of a [[JsonbFn]]: analyzed plans and column headers show the
  * function's name; the optimizer replaces it by the static call.
  */
case class JsonbCall(fn: JsonbFn, children: Seq[Expression])
    extends RuntimeReplaceable {
  override lazy val replacement: Expression = fn.invoke(children)
  override def prettyName: String = Option(fn.pretty).getOrElse(fn.name)
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** The jsonb function table: one row per JsonbRT method. */
object JsonbFns {
  private val S = StringType
  private val jsonbArray = ArrayType(StringType, containsNull = false)
  private val zero = Literal(0)
  private def cmp(name: String, op: Expression => Expression) =
    JsonbFn(name, "cmp", IntegerType, 2 to 2, wrap = op)
  private def typeOf(e: Expression) = Literal(e.dataType, ObjectType(classOf[DataType]))
  private def array(es: Seq[Expression]) = CreateArray(es, useStringTypeWhenEmpty = true)
  // jsonb_path_*(doc, path[, vars[, silent]]) and the `_tz` twins
  // (jsonpath_exec.c): vars defaults to none, silent to false. SQL NULL
  // on doc or path gives NULL (in the method); a NULL silent counts as
  // false (coalesced here: a NULL boolean argument would propagate)
  private def path(name: String, method: String, dt: DataType) =
    Seq(false, true).map { tz =>
      JsonbFn(name + (if (tz) "_tz" else ""), method, dt, 2 to 4,
        pad = Seq(Literal(null, S), Literal(false)), strict = false,
        args = a => Seq(a(0), a(1), a(2), Coalesce(Seq(a(3), Literal(false))), Literal(tz)))
    }

  val table: Seq[JsonbFn] = Seq(
    // arithmetic and containers (cypher_ops.c)
    JsonbFn("jsonb_add", "add", S, 2 to 2),
    JsonbFn("jsonb_sub", "sub", S, 2 to 2),
    JsonbFn("jsonb_mul", "mul", S, 2 to 2),
    JsonbFn("jsonb_div", "div", S, 2 to 2),
    JsonbFn("jsonb_mod", "mod", S, 2 to 2),
    JsonbFn("jsonb_pow", "pow", S, 2 to 2),
    JsonbFn("jsonb_uminus", "uminus", S, sql = false),
    JsonbFn("jsonb_uplus", "uplus", S, sql = false),
    JsonbFn("jsonb_concat", "concat", S, 2 to 2),
    // btree order as SQL booleans; a NULL operand gives NULL (3VL)
    cmp("jsonb_eq", EqualTo(_, zero)),
    cmp("jsonb_ne", c => Not(EqualTo(c, zero))),
    cmp("jsonb_lt", LessThan(_, zero)),
    cmp("jsonb_le", LessThanOrEqual(_, zero)),
    cmp("jsonb_gt", GreaterThan(_, zero)),
    cmp("jsonb_ge", GreaterThanOrEqual(_, zero)),
    JsonbFn("jsonb_typerank", "typeRank", IntegerType, pretty = "jsonb_type_rank"),
    // memcomparable key: ORDER BY / GROUP BY jsonb values with PG
    // jsonb ordering (type rank, full-precision numerics)
    JsonbFn("jsonb_sort_key", "sortKey", BinaryType),
    // @> and the ? family
    JsonbFn("jsonb_contains", "contains", BooleanType, 2 to 2),
    JsonbFn("jsonb_exists", "existsKey", BooleanType, 2 to 2),
    JsonbFn("jsonb_exists_any", "existsAny", BooleanType, 2 to 2, pretty = "jsonb_existsany"),
    JsonbFn("jsonb_exists_all", "existsAll", BooleanType, 2 to 2, pretty = "jsonb_existsall"),
    // access: `->`, l[a..b], `#>` / `#>>` and the variadic
    // jsonb_extract_path(_text) forms (jsonfuncs.c get_jsonb_path_all)
    JsonbFn("jsonb_get", "get", S, 2 to 2),
    JsonbFn("jsonb_slice", "slice", S, 3 to 3, strict = false),
    JsonbFn("jsonb_get_path", "getPathJ", S, 2 to 2, pretty = "jsonb_getpath"),
    JsonbFn("jsonb_get_path_text", "getPathText", S, 2 to 2, pretty = "jsonb_getpathtext"),
    JsonbFn("jsonb_extract_path", "extractPath", S, 2 to 32, strict = false,
      args = a => Seq(a.head, array(a.tail), Literal(false))),
    JsonbFn("jsonb_extract_path_text", "extractPath", S, 2 to 32, strict = false,
      args = a => Seq(a.head, array(a.tail), Literal(true))),
    // writes: `-` by key or index (jsonb_delete's SQL form picks), `#-`,
    // SET n.k, and the jsonfuncs.c setPath family
    JsonbFn("jsonb_delete_key", "deleteKey", S, 2 to 2, sql = false, pretty = "jsonb_delete"),
    JsonbFn("jsonb_delete_idx", "deleteIdx", S, 2 to 2, sql = false, pretty = "jsonb_delete"),
    JsonbFn("jsonb_delete_path", "deletePath", S, 2 to 2, pretty = "jsonb_delpath"),
    JsonbFn("jsonb_set_key", "setKey", S, 3 to 3, strict = false),
    JsonbFn("jsonb_set", "jsonbSet", S, 3 to 4, pad = Seq(Literal(true))),
    JsonbFn("jsonb_insert", "jsonbInsert", S, 3 to 4, pad = Seq(Literal(false))),
    JsonbFn("jsonb_set_lax", "jsonbSetLax", S, 3 to 5, strict = false,
      pad = Seq(Literal(true), Literal(UTF8String.fromString("use_json_null"), S))),
    JsonbFn("jsonb_strip_nulls", "stripNullsJ", S),
    // casts between jsonb and SQL values
    JsonbFn("jsonb_astext", "asText", S),
    JsonbFn("jsonb_fromtext", "fromText", S, sql = false),
    JsonbFn("jsonb_to_bool", "toBool", BooleanType),
    JsonbFn("jsonb_to_double", "asDouble", DoubleType),
    JsonbFn("jsonb_to_long", "asLong", LongType),
    JsonbFn("jsonb_from_long", "fromLong", S, sql = false),
    JsonbFn("jsonb_from_double", "fromDouble", S, sql = false),
    JsonbFn("jsonb_from_bool", "fromBool", S, sql = false),
    // re-canonicalize JSON text (key sort, numeric canonical form) —
    // the SQL-side door into jsonb space for native values:
    // jsonb_get(jsonb_norm(to_json(named_struct('v', x))), '"v"')
    JsonbFn("jsonb_norm", "normalize", S, pretty = "jsonb_normalize"),
    // Cypher scalar and list functions (cypher_funcs.c)
    JsonbFn("jsonb_length", "length", LongType),
    JsonbFn("jsonb_keys", "keys", S),
    JsonbFn("jsonb_head", "head", S, sql = false),
    JsonbFn("jsonb_last", "last", S, sql = false),
    JsonbFn("jsonb_tail", "tail", S, sql = false),
    JsonbFn("jsonb_toboolean", "cypherToBoolean", S, sql = false),
    JsonbFn("jsonb_tostring", "cypherToString", S, sql = false),
    JsonbFn("jsonb_arrdistinct", "arrayDistinct", S, sql = false),
    JsonbFn("jsonb_arrsum", "arraySum", S, sql = false),
    JsonbFn("jsonb_arravg", "arrayAvg", S, sql = false),
    JsonbFn("jsonb_arrmin", "arrayMin", S, sql = false),
    JsonbFn("jsonb_arrmax", "arrayMax", S, sql = false),
    // catalog and constructor functions (jsonfuncs.c; jsonb.sql:1376-1640)
    JsonbFn("jsonb_pretty", "prettyJ", S),
    JsonbFn("jsonb_typeof", "typeofJ", S),
    JsonbFn("jsonb_object1", "jsonbObject1", S, sql = false),
    JsonbFn("jsonb_objectkv", "jsonbObject2", S, 2 to 2, sql = false),
    JsonbFn("to_jsonb", "toJsonbValue", S, args = a => Seq(a(0), typeOf(a(0)))),
    JsonbFn("jsonb_key_text", "keyText", S, sql = false, args = a => Seq(a(0), typeOf(a(0)))),
    JsonbFn("jsonb_build_array", "buildFromParts", S, 0 until Int.MaxValue, sql = false,
      strict = false, nullable = false, args = a => Seq(Literal(false), array(a))),
    JsonbFn("jsonb_build_object", "buildFromParts", S, 0 until Int.MaxValue, sql = false,
      strict = false, nullable = false, args = a => Seq(Literal(true), array(a))),
    // SRF analogs: the reference's set-returning functions surface as
    // explode-able arrays (Spark has no SRF registration)
    JsonbFn("jsonb_each", "eachRows", jsonbArray),
    JsonbFn("jsonb_each_text", "eachTextRows", jsonbArray),
    JsonbFn("jsonb_object_keys", "objectKeysRows", jsonbArray),
    JsonbFn("jsonb_array_elements_text", "arrayElementsText", ArrayType(S, containsNull = true)),
    JsonbFn("jsonb_assert_elements_array", "assertElementsArray", S, sql = false),
    JsonbFn("jsonb_split_array", "splitArray", jsonbArray, sql = false),
    JsonbFn("jsonb_array_length", "arrayLengthJ", IntegerType)) ++
    // SQL/JSON path; jsonb_path_query is the SRF row form
    path("jsonb_path_exists", "jsonpathExists", BooleanType) ++
    path("jsonb_path_match", "jsonpathMatch", BooleanType) ++
    path("jsonb_path_query_array", "jsonpathQueryArray", S) ++
    path("jsonb_path_query_first", "jsonpathQueryFirst", S) ++
    path("jsonb_path_query", "jsonpathQueryRows", jsonbArray)

  private val byName: Map[String, JsonbFn] = table.map(f => f.name -> f).toMap
  def apply(name: String): JsonbFn = byName(name)

  def checkArity(caller: String, args: Seq[Expression], arity: Range): Unit =
    if (!arity.contains(args.length))
      throw new IllegalArgumentException(
        s"$caller requires ${arity.start} to ${arity.last} arguments, got ${args.length}")

  /** jsonb_build_object: keys render as text, values convert to jsonb. */
  def buildObject(args: Seq[Expression]): Expression = {
    if (args.length % 2 != 0)
      throw new graft.jsonb.Jsonb.JsonbFnError("argument list must have even number of elements")
    JsonbFns("jsonb_build_object").call(args.grouped(2).toSeq.flatMap(kv =>
      Seq(JsonbFns("jsonb_key_text").call(kv.take(1)), JsonbFns("to_jsonb").call(kv.drop(1)))))
  }

  /** Every SQL function: the `sql` rows, then the SQL forms that pick
    * or compose rows.
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    table.filter(_.sql).map(f => f.name -> ((a: Seq[Expression]) => f.call(a))) ++ Seq(
      // the reference's three overloads, by the second argument's type
      // and the arity: (jsonb, text) key, (jsonb, int) array index,
      // (jsonb, text...) keys
      "jsonb_delete" -> { a =>
        checkArity("jsonb_delete", a, 2 to 32)
        a(1).dataType match {
          case IntegerType | LongType | ShortType | ByteType =>
            JsonbFns("jsonb_delete_idx").call(a, "jsonb_delete")
          case _ =>
            // every key must be text: fail at resolution, not with a
            // runtime ClassCastException from a later argument
            a.tail.find(_.dataType != S).foreach(k => throw new IllegalArgumentException(
              s"jsonb_delete: variadic keys must be text (got ${k.dataType.simpleString})"))
            a.tail.foldLeft(a.head)((acc, k) => JsonbFns("jsonb_delete_key").call(Seq(acc, k)))
        }
      },
      // <@ is containment with the operands swapped
      "jsonb_contained" -> (a => JsonbFns("jsonb_contains").call(a.reverse, "jsonb_contained")),
      "jsonb_object" -> { a =>
        checkArity("jsonb_object", a, 1 to 2)
        JsonbFns(if (a.length == 1) "jsonb_object1" else "jsonb_objectkv").call(a)
      },
      "jsonb_build_array" -> (a =>
        JsonbFns("jsonb_build_array").call(a.map(x => JsonbFns("to_jsonb").call(Seq(x))))),
      "jsonb_build_object" -> buildObject,
      // non-array inputs error with the reference's texts
      "jsonb_array_elements" -> (a => JsonbFns("jsonb_split_array").call(Seq(
        JsonbFns("jsonb_assert_elements_array").call(a, "jsonb_array_elements")))))
}

/** Column-level API over the jsonb functions. */
object J {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def col(x: Expression): Column = ColumnBridge.column(x)
  private def str(s: String): Expression = Literal(UTF8String.fromString(s), StringType)

  def lit(json: String): Column = col(str(graft.jsonb.Jsonb.parse(json).render))

  // SQL/JSON path over a jsonb column; path/vars are compile-time strings
  private def pathCall(name: String, doc: Column, path: String, vars: String): Column =
    col(JsonbFns(name).call(Seq(e(doc), str(path),
      if (vars == null) Literal(null, StringType) else str(graft.jsonb.Jsonb.parse(vars).render),
      Literal(false))))
  def pathExists(doc: Column, path: String, vars: String = null): Column =
    pathCall("jsonb_path_exists", doc, path, vars)
  def pathMatch(doc: Column, path: String, vars: String = null): Column =
    pathCall("jsonb_path_match", doc, path, vars)
  def pathQueryArray(doc: Column, path: String, vars: String = null): Column =
    pathCall("jsonb_path_query_array", doc, path, vars)
  def pathQueryFirst(doc: Column, path: String, vars: String = null): Column =
    pathCall("jsonb_path_query_first", doc, path, vars)
  /** jsonb_path_query's SRF row form: array of per-item jsonb text,
    * ready for explode().
    */
  def pathQueryRows(doc: Column, path: String, vars: String = null): Column =
    pathCall("jsonb_path_query", doc, path, vars)
  /** jsonb_each_text's SRF analog: array of {"key","value"} objects
    * with TEXT values (JSON null -> SQL NULL through ->>).
    */
  def eachText(x: Column): Column = JsonbFns("jsonb_each_text")(x)
  /** jsonb_build_object over (literal key, any-typed value) pairs. */
  def buildObject(pairs: (String, Column)*): Column =
    col(JsonbFns.buildObject(pairs.flatMap { case (k, v) => Seq(str(k), e(v)) }))

  def add(l: Column, r: Column): Column = JsonbFns("jsonb_add")(l, r)
  def sub(l: Column, r: Column): Column = JsonbFns("jsonb_sub")(l, r)
  def mul(l: Column, r: Column): Column = JsonbFns("jsonb_mul")(l, r)
  def div(l: Column, r: Column): Column = JsonbFns("jsonb_div")(l, r)
  def mod(l: Column, r: Column): Column = JsonbFns("jsonb_mod")(l, r)
  def pow(l: Column, r: Column): Column = JsonbFns("jsonb_pow")(l, r)
  def concat(l: Column, r: Column): Column = JsonbFns("jsonb_concat")(l, r)
  def deleteKey(l: Column, r: Column): Column = JsonbFns("jsonb_delete_key")(l, r)
  def uminus(x: Column): Column = JsonbFns("jsonb_uminus")(x)
  def uplus(x: Column): Column = JsonbFns("jsonb_uplus")(x)

  def eq(l: Column, r: Column): Column = JsonbFns("jsonb_eq")(l, r)
  def ne(l: Column, r: Column): Column = JsonbFns("jsonb_ne")(l, r)
  def lt(l: Column, r: Column): Column = JsonbFns("jsonb_lt")(l, r)
  def le(l: Column, r: Column): Column = JsonbFns("jsonb_le")(l, r)
  def gt(l: Column, r: Column): Column = JsonbFns("jsonb_gt")(l, r)
  def ge(l: Column, r: Column): Column = JsonbFns("jsonb_ge")(l, r)

  def contains(l: Column, r: Column): Column = JsonbFns("jsonb_contains")(l, r)
  def existsKey(l: Column, r: Column): Column = JsonbFns("jsonb_exists")(l, r)

  /** property access n.k — key given as a plain string. */
  def getKey(l: Column, key: String): Column =
    col(JsonbFns("jsonb_get").call(Seq(e(l), str(graft.jsonb.JStr(key).render))))
  /** dynamic access l[expr] (expr is a jsonb string/number). */
  def getDyn(l: Column, k: Column): Column = JsonbFns("jsonb_get")(l, k)
  def slice(l: Column, from: Column, to: Column): Column = JsonbFns("jsonb_slice")(l, from, to)
  /** SET n.k = v / REMOVE n.k — SQL-NULL value deletes the key. */
  def setKey(o: Column, k: Column, v: Column): Column = JsonbFns("jsonb_set_key")(o, k, v)

  def sortKey(x: Column): Column = JsonbFns("jsonb_sort_key")(x)
  def asText(x: Column): Column = JsonbFns("jsonb_astext")(x)
  def fromText(x: Column): Column = JsonbFns("jsonb_fromtext")(x)
  def keysOf(x: Column): Column = JsonbFns("jsonb_keys")(x)
  def head(x: Column): Column = JsonbFns("jsonb_head")(x)
  def last(x: Column): Column = JsonbFns("jsonb_last")(x)
  def tail(x: Column): Column = JsonbFns("jsonb_tail")(x)
  def toBooleanFn(x: Column): Column = JsonbFns("jsonb_toboolean")(x)
  def toStringFn(x: Column): Column = JsonbFns("jsonb_tostring")(x)
  def arrDistinct(x: Column): Column = JsonbFns("jsonb_arrdistinct")(x)
  def arrSum(x: Column): Column = JsonbFns("jsonb_arrsum")(x)
  def arrAvg(x: Column): Column = JsonbFns("jsonb_arravg")(x)
  def arrMin(x: Column): Column = JsonbFns("jsonb_arrmin")(x)
  def arrMax(x: Column): Column = JsonbFns("jsonb_arrmax")(x)

  def fromLong(x: Column): Column = JsonbFns("jsonb_from_long")(x.cast("long"))
  def fromDouble(x: Column): Column = JsonbFns("jsonb_from_double")(x.cast("double"))
  def fromBool(x: Column): Column = JsonbFns("jsonb_from_bool")(x)

  def toBool(x: Column): Column = JsonbFns("jsonb_to_bool")(x)
  def toDouble(x: Column): Column = JsonbFns("jsonb_to_double")(x)
  def toLong(x: Column): Column = JsonbFns("jsonb_to_long")(x)
  def lengthOf(x: Column): Column = JsonbFns("jsonb_length")(x)
  def typeRank(x: Column): Column = JsonbFns("jsonb_typerank")(x)
}

/** Structural helpers used by the Cypher compiler: re-canonicalize a
  * concatenated JSON text (key sort, duplicate removal), and split a
  * jsonb array into its elements as array<string> for Spark
  * higher-order functions (list comprehension without UDFs).
  */
object JsonbNormalize {
  def normalize(c: Column): Column = JsonbFns("jsonb_norm")(c)
  def splitArray(c: Column): Column = JsonbFns("jsonb_split_array")(c)
}
