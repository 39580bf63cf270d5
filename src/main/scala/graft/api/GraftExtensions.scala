package graft.api

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expr.ops._

/** SparkSessionExtensions injector: exposes the jsonb expression
  * library to plain Spark SQL (`spark.sql("SELECT jsonb_add(a, b)")`).
  *
  * Usage: `.config("spark.sql.extensions", "graft.api.GraftExtensions")`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.expr.ops", name), builder))
    }
    // whole-operator extension: the bounded top-k-per-key plan
    // (strategy) and the transparent row_number()<=k rewrite onto it
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftExtensions {
  // sqlName: registered SQL name when it differs from jsonb_$op —
  // the wrong-arity message must name the function the user called
  private def binary(op: String, sqlName: String = null)
      : Seq[Expression] => Expression =
    args => { arity(if (sqlName != null) sqlName else s"jsonb_$op",
        args, 2, 2)
      JsonbBinary(op, args(0), args(1)) }
  private def arity(fn: String, args: Seq[Expression], lo: Int, hi: Int): Unit =
    if (args.length < lo || args.length > hi)
      throw new IllegalArgumentException(
        s"$fn requires $lo to $hi arguments, got ${args.length}")
  // jsonb_path_*(doc, path[, vars[, silent]]) — pad the optional args
  // like the reference's SQL defaults (vars '{}'/none, silent false)
  private def pathFn(op: String, tz: Boolean): Seq[Expression] => Expression =
    args => {
      if (args.length < 2 || args.length > 4) {
        // error with the REGISTERED name (query_rows is the internal
        // op of the plain jsonb_path_query spelling)
        val sqlName = (if (op == "query_rows") "jsonb_path_query"
          else s"jsonb_path_$op") + (if (tz) "_tz" else "")
        throw new IllegalArgumentException(
          s"$sqlName requires 2 to 4 " +
            s"arguments (doc, path[, vars[, silent]]), got ${args.length}")
      }
      JsonbPathFunction(op, tz, Seq(
        args(0), args(1),
        if (args.length > 2) args(2)
        else org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.StringType),
        if (args.length > 3) args(3)
        else org.apache.spark.sql.catalyst.expressions.Literal(false)))
    }
  private def cmp(op: String): Seq[Expression] => Expression =
    args => { arity(s"jsonb_$op", args, 2, 2)
      JsonbComparison(op, args(0), args(1)) }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "jsonb_add" -> binary("add"),
    "jsonb_sub" -> binary("sub"),
    "jsonb_mul" -> binary("mul"),
    "jsonb_div" -> binary("div"),
    "jsonb_mod" -> binary("mod"),
    "jsonb_pow" -> binary("pow"),
    "jsonb_concat" -> binary("concat"),
    "jsonb_get" -> binary("get"),
    // jsonb_delete's three reference overloads, dispatched by the
    // second argument's Spark type / arity: (jsonb, text) single key,
    // (jsonb, int) array index, (jsonb, text...) variadic keys
    "jsonb_delete" -> (args => {
      arity("jsonb_delete", args, 2, 32)
      import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, ByteType}
      args(1).dataType match {
        case IntegerType | LongType | ShortType | ByteType =>
          arity("jsonb_delete", args, 2, 2)
          JsonbDeleteIdx(args(0), args(1))
        case _ =>
          // variadic key form: every key must be text — fail at
          // resolution with a clear message rather than a runtime
          // ClassCastException from a mixed-type later argument
          args.tail.foreach { k =>
            if (k.dataType != org.apache.spark.sql.types.StringType)
              throw new IllegalArgumentException(
                "jsonb_delete: variadic keys must be text " +
                  s"(got ${k.dataType.simpleString})")
          }
          args.tail.foldLeft(args(0))((acc, k) => JsonbBinary("delete", acc, k))
      }
    }),
    "jsonb_eq" -> cmp("eq"),
    "jsonb_ne" -> cmp("ne"),
    "jsonb_lt" -> cmp("lt"),
    "jsonb_le" -> cmp("le"),
    "jsonb_gt" -> cmp("gt"),
    "jsonb_ge" -> cmp("ge"),
    "jsonb_contains" -> (args => { arity("jsonb_contains", args, 2, 2)
      JsonbPredicate("contains", args(0), args(1)) }),
    // <@ is containment with the operands swapped
    "jsonb_contained" -> (args => { arity("jsonb_contained", args, 2, 2)
      JsonbPredicate("contains", args(1), args(0)) }),
    "jsonb_exists" -> (args => { arity("jsonb_exists", args, 2, 2)
      JsonbPredicate("exists", args(0), args(1)) }),
    "jsonb_exists_any" -> (args => { arity("jsonb_exists_any", args, 2, 2)
      JsonbPredicate("existsany", args(0), args(1)) }),
    "jsonb_exists_all" -> (args => { arity("jsonb_exists_all", args, 2, 2)
      JsonbPredicate("existsall", args(0), args(1)) }),
    "jsonb_delete_path" -> (args => { arity("jsonb_delete_path", args, 2, 2)
      JsonbBinary("delpath", args(0), args(1)) }),
    // jsonb mutation/catalog fns (jsonfuncs.c; jsonb.sql:1116-)
    "jsonb_set" -> (args => {
      arity("jsonb_set", args, 3, 4)
      JsonbMutateFunction("set", Seq(
        args(0), args(1), args(2),
        if (args.length > 3) args(3)
        else org.apache.spark.sql.catalyst.expressions.Literal(true)))
    }),
    "jsonb_insert" -> (args => {
      arity("jsonb_insert", args, 3, 4)
      JsonbMutateFunction("insert", Seq(
        args(0), args(1), args(2),
        if (args.length > 3) args(3)
        else org.apache.spark.sql.catalyst.expressions.Literal(false)))
    }),
    "jsonb_set_lax" -> (args => {
      arity("jsonb_set_lax", args, 3, 5)
      JsonbMutateFunction("set_lax", Seq(
        args(0), args(1), args(2),
        if (args.length > 3) args(3)
        else org.apache.spark.sql.catalyst.expressions.Literal(true),
        if (args.length > 4) args(4)
        else org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("use_json_null"),
          org.apache.spark.sql.types.StringType)))
    }),
    "jsonb_strip_nulls" -> (args => { arity("jsonb_strip_nulls", args, 1, 1)
      JsonbUnary("strip_nulls", args(0)) }),
    // constructor fns (jsonfuncs.c jsonb_build_object/array, to_jsonb,
    // jsonb_object; jsonb.sql:1376-1640). Deviation: STRING args embed
    // as jsonb when they parse, quote as text otherwise (Spark has no
    // anyelement polymorphism to distinguish text from jsonb)
    "to_jsonb" -> (args => {
      arity("to_jsonb", args, 1, 1)
      ToJsonbValue(args(0))
    }),
    "jsonb_build_array" -> (args => JsonbBuild(obj = false,
      args.map(ToJsonbValue))),
    "jsonb_build_object" -> (args => {
      if (args.length % 2 != 0)
        throw new graft.jsonb.Jsonb.JsonbFnError(
          "argument list must have even number of elements")
      JsonbBuild(obj = true, args.zipWithIndex.map { case (a, i) =>
        if (i % 2 == 0) JsonbKeyText(a, i + 1) else ToJsonbValue(a)
      })
    }),
    "jsonb_object" -> (args => {
      arity("jsonb_object", args, 1, 2)
      if (args.length == 1) JsonbUnary("object1", args(0))
      else JsonbBinary("objectkv", args(0), args(1))
    }),
    "jsonb_pretty" -> (args => { arity("jsonb_pretty", args, 1, 1)
      JsonbUnary("pretty", args(0)) }),
    "jsonb_typeof" -> (args => { arity("jsonb_typeof", args, 1, 1)
      JsonbUnary("typeof", args(0)) }),
    // SRF analogs: the reference's set-returning jsonb_each /
    // jsonb_array_elements surface as explode-able arrays of jsonb
    // element text (Spark has no SRF registration); non-array /
    // non-object inputs error with the reference's texts
    "jsonb_array_elements" -> (args => { arity("jsonb_array_elements", args, 1, 1)
      graft.expr.JsonbNormalize
        .SplitArray(JsonbUnary("assert_elements_array", args(0))) }),
    "jsonb_each" -> (args => { arity("jsonb_each", args, 1, 1)
      JsonbSrfArray("each", args(0)) }),
    "jsonb_each_text" -> (args => { arity("jsonb_each_text", args, 1, 1)
      JsonbSrfArray("each_text", args(0)) }),
    "jsonb_object_keys" -> (args => { arity("jsonb_object_keys", args, 1, 1)
      JsonbSrfArray("object_keys", args(0)) }),
    "jsonb_array_elements_text" ->
      (args => { arity("jsonb_array_elements_text", args, 1, 1)
        JsonbSrfArray("array_elements_text", args(0)) }),
    // `#>` / `#>>` (path as a PG text[] literal) and the variadic
    // jsonb_extract_path(_text) forms (jsonfuncs.c get_jsonb_path_all)
    "jsonb_get_path" -> binary("getpath", "jsonb_get_path"),
    "jsonb_get_path_text" -> binary("getpathtext", "jsonb_get_path_text"),
    "jsonb_extract_path" -> (args => {
      arity("jsonb_extract_path", args, 2, 32)
      JsonbExtractPath(text = false, args)
    }),
    "jsonb_extract_path_text" -> (args => {
      arity("jsonb_extract_path_text", args, 2, 32)
      JsonbExtractPath(text = true, args)
    }),
    "jsonb_array_length" -> (args => { arity("jsonb_array_length", args, 1, 1)
      JsonbArrayLength(args(0)) }),
    // SQL/JSON path (@? is jsonb_path_exists with silent=true; @@ is
    // jsonb_path_match with silent=true — pass the extra args for the
    // operator forms). jsonb_path_query is the SRF row form: an array
    // of per-item jsonb text for explode() (the reference's setof
    // jsonb); _array/_first are the scalar aggregated forms.
    "jsonb_path_exists" -> pathFn("exists", tz = false),
    "jsonb_path_match" -> pathFn("match", tz = false),
    "jsonb_path_query_array" -> pathFn("query_array", tz = false),
    "jsonb_path_query_first" -> pathFn("query_first", tz = false),
    "jsonb_path_query" -> pathFn("query_rows", tz = false),
    "jsonb_path_exists_tz" -> pathFn("exists", tz = true),
    "jsonb_path_match_tz" -> pathFn("match", tz = true),
    "jsonb_path_query_array_tz" -> pathFn("query_array", tz = true),
    "jsonb_path_query_first_tz" -> pathFn("query_first", tz = true),
    "jsonb_path_query_tz" -> pathFn("query_rows", tz = true),
    "jsonb_length" -> (args => { arity("jsonb_length", args, 1, 1)
      JsonbLength(args(0)) }),
    "jsonb_typerank" -> (args => { arity("jsonb_typerank", args, 1, 1)
      JsonbTypeRank(args(0)) }),
    "jsonb_astext" -> (args => { arity("jsonb_astext", args, 1, 1)
      JsonbUnary("astext", args(0)) }),
    "jsonb_keys" -> (args => { arity("jsonb_keys", args, 1, 1)
      JsonbUnary("keys", args(0)) }),
    "jsonb_slice" -> (args => { arity("jsonb_slice", args, 3, 3)
      JsonbSlice(args(0), args(1), args(2)) }),
    "jsonb_set_key" -> (args => { arity("jsonb_set_key", args, 3, 3)
      JsonbSetKey(args(0), args(1), args(2)) }),
    "jsonb_to_bool" -> (args => { arity("jsonb_to_bool", args, 1, 1)
      JsonbCast("bool", args(0)) }),
    "jsonb_to_double" -> (args => { arity("jsonb_to_double", args, 1, 1)
      JsonbCast("double", args(0)) }),
    "jsonb_to_long" -> (args => { arity("jsonb_to_long", args, 1, 1)
      JsonbCast("long", args(0)) }),
    // re-canonicalize JSON text (key sort, numeric canonical form) —
    // the SQL-side door into jsonb space for native values:
    // jsonb_get(jsonb_norm(to_json(named_struct('v', x))), '"v"')
    "jsonb_norm" -> (args => { arity("jsonb_norm", args, 1, 1)
      graft.expr.JsonbNormalize.Normalize(args(0)) }),
    // memcomparable key: ORDER BY / GROUP BY jsonb values from SQL
    // with PG jsonb ordering (type rank, full-precision numerics)
    "jsonb_sort_key" -> (args => { arity("jsonb_sort_key", args, 1, 1)
      graft.expr.JsonbSortKey(args(0)) }),
    // codegen'd primitive dot product over array<float>/array<double>
    // — the ANN kernel, exposed for SQL-side similarity scoring
    "vec_dot" -> (args => { arity("vec_dot", args, 2, 2)
      graft.expr.VectorExpressions.FloatVecDot(args(0), args(1)) }))

  /** Register into an already-built session (tests, REPLs): the
    * extensions path only applies at session construction. Once per
    * session: every CypherSession and correlated sql() lift calls this,
    * and each re-registration would replace all entries and log a
    * "replaced a previously registered function" warning per function.
    * `jsonb_object_agg` is registered last, so its presence means the
    * whole library is in.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("jsonb_object_agg"))) {
      functions.foreach { case (name, builder) =>
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo("graft.expr.ops", name), builder)
      }
      // aggregates go through the UDAF door (the expression-injection
      // path has no Aggregator surface): the reference's jsonb_agg /
      // jsonb_object_agg, sharing the Cypher collect machinery
      spark.udf.register("jsonb_agg", graft.cypher.JsonbAggregates.jsonbAggUdf)
      spark.udf.register("jsonb_object_agg",
        graft.cypher.JsonbAggregates.jsonbObjectAggUdf)
    }
  }
}
