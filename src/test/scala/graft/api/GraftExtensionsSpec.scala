package graft.api

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The jsonb library through plain Spark SQL (SparkSessionExtensions
  * injection — SURVEY §4.3's extension surface).
  */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // the shared test session already exists; use the runtime
    // registration path (the extensions class is the same list)
    val s = graft.SparkTestBase.spark
    GraftExtensions.register(s)
    s
  }

  test("jsonb functions callable from spark.sql") {
    def one(sql: String): Any = {
      val r = spark.sql(sql).collect()(0)
      if (r.isNullAt(0)) null else r.get(0)
    }
    assert(one("SELECT jsonb_add('1', '2')") == "3")
    assert(one("SELECT jsonb_add('\"a\"', '\"b\"')") == "\"ab\"")
    assert(one("SELECT jsonb_get('{\"k\": [1, 2]}', '\"k\"')") == "[1, 2]")
    assert(one("SELECT jsonb_eq('7', '7.0')") == true)
    assert(one("SELECT jsonb_contains('[1, 2, 3]', '2')") == true)
    // <@ / ?| / ?& / #- (pg_proc jsonb op family; SURVEY §2.8)
    assert(one("SELECT jsonb_contained('2', '[1, 2, 3]')") == true)
    assert(one("SELECT jsonb_exists_any('{\"a\": 1}', '[\"z\", \"a\"]')") == true)
    assert(one("SELECT jsonb_exists_any('{\"a\": 1}', '[\"z\"]')") == false)
    assert(one("SELECT jsonb_exists_all('{\"a\": 1, \"b\": 2}', '[\"a\", \"b\"]')") == true)
    assert(one("SELECT jsonb_exists_all('{\"a\": 1}', '[\"a\", \"b\"]')") == false)
    assert(one("SELECT jsonb_delete_path('{\"a\": {\"b\": 1, \"c\": 2}}', '[\"a\", \"b\"]')")
      == "{\"a\": {\"c\": 2}}")
    assert(one("SELECT jsonb_delete_path('[1, 2, 3]', '[-1]')") == "[1, 2]")
    assert(one("SELECT jsonb_length('[1, 2, 3]')") == 3L)
    assert(one("SELECT jsonb_to_long('41.9')") == 41L)
    // jsonb mutation/catalog fns (jsonfuncs.c family)
    assert(one("""SELECT jsonb_set('{"a": 1}', '{b,0}', '9')""") == "{\"a\": 1}")
    assert(one("""SELECT jsonb_set('{"a": [0,1,2]}', '{a,-1}', '9')""")
      == "{\"a\": [0, 1, 9]}")
    assert(one("""SELECT jsonb_insert('{"a": [0,2]}', '{a,1}', '1')""")
      == "{\"a\": [0, 1, 2]}")
    assert(one("""SELECT jsonb_set_lax('{"a": 1}', '{a}', NULL, true, 'delete_key')""")
      == "{}")
    assert(one("""SELECT jsonb_typeof('[1]')""") == "array")
    assert(one("""SELECT jsonb_strip_nulls('{"a": null, "b": 1}')""")
      == "{\"b\": 1}")
    // SRF analogs explode into rows; non-array/object inputs error
    // with the reference's texts instead of silently dropping rows
    assert(spark.sql(
      """SELECT explode(jsonb_array_elements('[1, "a", {"b": 2}]'))""")
      .collect().map(_.getString(0)).toSeq == Seq("1", "\"a\"", "{\"b\": 2}"))
    intercept[Exception](one("""SELECT jsonb_array_elements('1')"""))
    intercept[Exception](one("""SELECT jsonb_each('[1]')"""))
    assert(spark.sql("""SELECT explode(jsonb_object_keys('{"a": 1, "bb": 2}'))""")
      .collect().map(_.getString(0)).toSeq == Seq("a", "bb"))
    assert(spark.sql("""SELECT explode(jsonb_array_elements_text('["x", 1, null]'))""")
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      == Seq("x", "1", null))
    // #> / #>> and the variadic extract forms
    assert(one("""SELECT jsonb_get_path('{"a": {"b": [1, 2]}}', '{a,b,-1}')""") == "2")
    assert(one("""SELECT jsonb_get_path_text('{"a": {"b": "x"}}', '{a,b}')""") == "x")
    assert(one("""SELECT jsonb_get_path('{"a": 1}', '{z}')""") == null)
    assert(one("""SELECT jsonb_extract_path('{"a": {"b": 7}}', 'a', 'b')""") == "7")
    assert(one("""SELECT jsonb_extract_path_text('{"a": {"b": "s"}}', 'a', 'b')""") == "s")
    assert(one("""SELECT jsonb_array_length('[1, 2, 3]')""") == 3)
    intercept[Exception](one("""SELECT jsonb_array_length('{}')"""))
    // constructor fns (jsonb.out:1376-1461). String args embed when
    // they parse as json, quote as text otherwise (documented
    // deviation — Spark has no anyelement polymorphism); typed args
    // follow the reference exactly
    assert(one("""SELECT jsonb_build_array('a', 1, 'b', 1.2, 'c', true, 'd', NULL)""")
      == """["a", 1, "b", 1.2, "c", true, "d", null]""")
    assert(one("""SELECT jsonb_build_array()""") == "[]")
    assert(one("""SELECT jsonb_build_object('a', 1, 'b', 1.2, 'c', true, 'd', NULL)""")
      == """{"a": 1, "b": 1.2, "c": true, "d": null}""")
    // nesting embeds (the jsonb.out:1437 shape)
    assert(one(
      """SELECT jsonb_build_object('a', jsonb_build_object('b', false, 'c', 99),
        |                          'd', jsonb_build_object('e', array(9, 8, 7)))""".stripMargin)
      == """{"a": {"b": false, "c": 99}, "d": {"e": [9, 8, 7]}}""")
    assert(one("""SELECT jsonb_build_object()""") == "{}")
    intercept[Exception](one("""SELECT jsonb_build_object('a', 'b', 'c')"""))
    intercept[Exception](one("""SELECT jsonb_build_object(NULL, 'a')"""))
    assert(one("""SELECT jsonb_build_object('a', NULL)""") == """{"a": null}""")
    // numeric keys render as text; array keys error
    assert(one("""SELECT jsonb_build_object(1, 'a')""") == """{"1": "a"}""")
    intercept[Exception](one("""SELECT jsonb_build_object(array(1), 'a')"""))
    // to_jsonb: typed conversions + strictness
    assert(one("""SELECT to_jsonb(42)""") == "42")
    assert(one("""SELECT to_jsonb('abc')""") == "\"abc\"")
    assert(one("""SELECT to_jsonb(true)""") == "true")
    assert(one("""SELECT to_jsonb(CAST(NULL AS STRING))""") == null)
    assert(one("""SELECT to_jsonb(array(1, 2, 3))""") == "[1, 2, 3]")
    assert(one("""SELECT to_jsonb(named_struct('b', 2, 'a', 1))""")
      == """{"a": 1, "b": 2}""")
    assert(one("""SELECT to_jsonb(map('k', 5))""") == """{"k": 5}""")
    assert(one("""SELECT to_jsonb(DATE'2024-03-01')""") == "\"2024-03-01\"")
    // jsonb_delete overloads: text key, int index, variadic keys
    assert(one("""SELECT jsonb_delete('{"a":1, "b":2, "c":3}', 'b')""")
      == """{"a": 1, "c": 3}""")
    assert(one("""SELECT jsonb_delete('["a","b","c"]', 1)""")
      == """["a", "c"]""")
    assert(one("""SELECT jsonb_delete('{"a":1, "b":2, "c":3}', 'c', 'b')""")
      == """{"a": 1}""")
    intercept[Exception](one("""SELECT jsonb_delete('"a"', 'a')"""))
    // bigint index beyond int range: out-of-range no-op, never a
    // truncated in-range delete
    assert(one("""SELECT jsonb_delete('["a","b"]', CAST(4294967296 AS BIGINT))""")
      == """["a", "b"]""")
    // mixed-type variadic keys fail at resolution with a clear message
    intercept[Exception](one("""SELECT jsonb_delete('{"a":1}', 'a', 1)"""))
    // jsonb_object via SQL
    assert(one("""SELECT jsonb_object('{a,1,b,2}')""")
      == """{"a": "1", "b": "2"}""")
    assert(one("""SELECT jsonb_object('{a,b}', '{1,2}')""")
      == """{"a": "1", "b": "2"}""")
    // aggregates: jsonb_agg keeps SQL NULLs as jsonb nulls,
    // jsonb_object_agg sorts keys canonically
    spark.sql("SELECT * FROM VALUES ('a', '1'), ('b', NULL), ('c', '[2]') t(k, v)")
      .createOrReplaceTempView("aggt")
    assert(one("SELECT jsonb_agg(v) FROM aggt") == "[1, null, [2]]")
    assert(one("SELECT jsonb_object_agg(k, v) FROM aggt")
      == "{\"a\": 1, \"b\": null, \"c\": [2]}")
    assert(spark.sql(
      """SELECT explode(jsonb_each('{"a": 1, "b": [2]}'))""")
      .collect().map(_.getString(0)).toSeq
      == Seq("{\"key\": \"a\", \"value\": 1}", "{\"key\": \"b\", \"value\": [2]}"))
    // jsonb_each_text: value is TEXT (strings unquoted, JSON null ->
    // SQL NULL through ->>, containers canonical) — jsonb.out:1068-1076
    assert(spark.sql(
      """SELECT jsonb_astext(jsonb_get(e, '"key"')) AS k,
        |       jsonb_astext(jsonb_get(e, '"value"')) AS v
        |FROM (SELECT explode(jsonb_each_text(
        |  '{"f1":[1,2,3],"f2":{"f3":1},"f4":null,"f5":99,"f6":"stringy"}')) AS e)"""
        .stripMargin)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSeq
      == Seq("f1" -> "[1, 2, 3]", "f2" -> "{\"f3\": 1}", "f4" -> null,
        "f5" -> "99", "f6" -> "stringy"))
    intercept[Exception](one("""SELECT jsonb_each_text('[1]')"""))
    // SQL/JSON path surface (@? / @@ / jsonb_path_* family)
    assert(one("""SELECT jsonb_path_exists('{"a": [1, 2, 3]}', '$.a[*] ? (@ > 2)')""") == true)
    assert(one("""SELECT jsonb_path_exists('{"a": [1, 2, 3]}', '$.a[*] ? (@ > 5)')""") == false)
    assert(one("""SELECT jsonb_path_match('{"k": 93}', '$.k > 50')""") == true)
    assert(one("""SELECT jsonb_path_query_array('[1, 2, 3, 4]', '$[*] ? (@ % 2 == 0)')""") == "[2, 4]")
    assert(one("""SELECT jsonb_path_query_first('[{"a": 1}, {"a": 2}]', '$[*].a ? (@ > $min)', '{"min": 1}')""") == "2")
    assert(one("""SELECT jsonb_path_query_first('{}', 'strict $.a', '{}', true)""") == null)
    // strict-mode error surfaces as a real failure when not silent
    intercept[Exception](one("""SELECT jsonb_path_query_first('{}', 'strict $.a')"""))
    // jsonb_path_query is the SRF row form: explode() reproduces the
    // reference's setof rows (jsonb_jsonpath.out:331-336 "$.*" -> two
    // rows; :121-124 strict error when not silent, empty when silent)
    assert(spark.sql(
      """SELECT explode(jsonb_path_query('{"a": 12, "b": {"a": 13}}', '$.*'))""")
      .collect().map(_.getString(0)).toSeq == Seq("12", "{\"a\": 13}"))
    intercept[Exception](spark.sql(
      """SELECT explode(jsonb_path_query('[1]', 'strict $[1]'))""").collect())
    assert(spark.sql(
      """SELECT explode(jsonb_path_query('[1]', 'strict $[1]', NULL, true))""")
      .collect().isEmpty)
    // vars + filter over rows (jsonb_jsonpath.out:2235 row-form of the
    // _array case: [2, 3] as two rows)
    assert(spark.sql(
      """SELECT explode(jsonb_path_query('[{"a": 1}, {"a": 2}, {"a": 3}, {"a": 5}]',
        |  '$[*].a ? (@ > $min && @ < $max)', '{"min": 1, "max": 4}'))""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("2", "3"))
    // usable inside real queries over tables
    spark.range(5).selectExpr("concat('{\"v\": ', id, '}') AS j")
      .createOrReplaceTempView("jt")
    val sum = spark.sql(
      "SELECT sum(jsonb_to_long(jsonb_get(j, '\"v\"'))) FROM jt")
      .collect()(0).getLong(0)
    assert(sum == 10L)
    // column (non-foldable) inputs drive the codegen path of the
    // mutation and jsonpath expressions
    val mutated = spark.sql(
      "SELECT jsonb_set(j, '{v}', '99') AS r FROM jt LIMIT 1")
      .collect()(0).getString(0)
    assert(mutated == "{\"v\": 99}")
    val nPath = spark.sql(
      "SELECT count(*) FROM jt WHERE jsonb_path_exists(j, '$.v ? (@ >= 2)')")
      .collect()(0).getLong(0)
    assert(nPath == 3L)
    // vector + sort-key kernels from SQL
    assert(one("SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))")
      == 11.0)
    val ord = spark.sql(
      """SELECT v FROM VALUES ('"b"'), ('10'), ('2'), ('null'), ('"a"')
        |AS t(v) ORDER BY jsonb_sort_key(v)""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    // PG jsonb type rank: Null < String < Number (jsonb_util.c
    // compareJsonbContainers); 2 < 10 numerically, not textually
    assert(ord == Seq("null", "\"a\"", "\"b\"", "2", "10"))
  }

  test("the library registers once per SparkSession, not per CypherSession") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def info(name: String) = registry.lookupFunction(FunctionIdentifier(name)).get
    val root = java.nio.file.Files.createTempDirectory("graft_register").toString
    val first = new CypherSession(spark, new graft.graph.GraphCatalog(spark, root))
    val (add, agg) = (info("jsonb_add"), info("jsonb_agg"))
    val second = new CypherSession(spark, new graft.graph.GraphCatalog(spark, root))
    // a re-registration would install a fresh ExpressionInfo
    assert(info("jsonb_add") eq add)
    assert(info("jsonb_agg") eq agg)
    for (cs <- Seq(first, second))
      assert(cs.sql("SELECT jsonb_add('1', '2') AS r").collect()(0).getString(0) == "3")
  }

  test("wrong-arity calls error with the function name, not an index error") {
    graft.api.GraftExtensions.register(spark)
    def err(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    // binary / comparison / predicate / unary / kernel shapes
    assert(err("SELECT jsonb_add('1')").contains("jsonb_add"))
    assert(err("SELECT jsonb_lt('1')").contains("jsonb_lt"))
    assert(err("SELECT jsonb_contains('1')").contains("jsonb_contains"))
    assert(err("SELECT jsonb_typeof('1', '2')").contains("jsonb_typeof"))
    assert(err("SELECT jsonb_sort_key()").contains("jsonb_sort_key"))
    assert(err("SELECT vec_dot(array(1.0F))").contains("vec_dot"))
    // and the valid shapes still work after the guard
    assert(spark.sql("SELECT jsonb_add('1', '2')")
      .collect()(0).getString(0) == "3")
  }
}
