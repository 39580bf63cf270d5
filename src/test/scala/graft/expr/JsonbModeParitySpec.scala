package graft.expr

import java.nio.file.Files

import graft.SparkTestBase
import graft.api.{CypherSession, GraftExtensions}
import graft.graph.GraphCatalog
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Every jsonb function gives the same value with generated code only
  * and with the interpreter only, and both match the recorded values in
  * `jsonb_mode_parity_golden.tsv`. Each call also runs once with SQL
  * NULL in each argument position, which exercises every function's
  * null rule.
  *
  * Arguments come from an RDD-backed frame, so the optimizer cannot
  * fold the call into a literal on the driver; the call itself runs in
  * the mode under test. An error is recorded as its root cause's
  * message.
  */
class JsonbModeParitySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = { GraftExtensions.register(SparkTestBase.spark); SparkTestBase.spark }

  /** (SQL function, argument SQL); one line per call shape. */
  private val sqlCalls: Seq[(String, Seq[String])] = Seq(
    "jsonb_add" -> Seq("'1'", "'2'"),
    "jsonb_sub" -> Seq("'5'", "'2.5'"),
    "jsonb_mul" -> Seq("'3'", "'4'"),
    "jsonb_div" -> Seq("'7'", "'2'"),
    "jsonb_mod" -> Seq("'7'", "'3'"),
    "jsonb_pow" -> Seq("'2'", "'10'"),
    "jsonb_concat" -> Seq("""'{"a": 1}'""", """'{"b": 2}'"""),
    "jsonb_get" -> Seq("""'{"k": [1, 2]}'""", """'"k"'"""),
    "jsonb_delete" -> Seq("""'{"a": 1, "b": 2}'""", "'b'"),
    "jsonb_delete" -> Seq("""'["a", "b", "c"]'""", "1"),
    "jsonb_delete" -> Seq("""'{"a": 1, "b": 2, "c": 3}'""", "'c'", "'b'"),
    "jsonb_eq" -> Seq("'7'", "'7.0'"),
    "jsonb_ne" -> Seq("'7'", "'8'"),
    "jsonb_lt" -> Seq("""'"a"'""", "'1'"),
    "jsonb_le" -> Seq("'2'", "'2'"),
    "jsonb_gt" -> Seq("'{}'", "'[]'"),
    "jsonb_ge" -> Seq("'1'", "'2'"),
    "jsonb_contains" -> Seq("'[1, 2, 3]'", "'2'"),
    "jsonb_contained" -> Seq("'2'", "'[1, 2, 3]'"),
    "jsonb_exists" -> Seq("""'{"a": 1}'""", "'a'"),
    "jsonb_exists_any" -> Seq("""'{"a": 1}'""", """'["z", "a"]'"""),
    "jsonb_exists_all" -> Seq("""'{"a": 1, "b": 2}'""", """'["a", "b"]'"""),
    "jsonb_delete_path" -> Seq("""'{"a": {"b": 1, "c": 2}}'""", """'["a", "b"]'"""),
    "jsonb_set" -> Seq("""'{"a": 1}'""", "'{a}'", "'9'"),
    "jsonb_set" -> Seq("""'{"a": [0, 1, 2]}'""", "'{a,5}'", "'9'", "false"),
    "jsonb_insert" -> Seq("""'{"a": [0, 2]}'""", "'{a,1}'", "'1'"),
    "jsonb_insert" -> Seq("""'{"a": [0, 2]}'""", "'{a,0}'", "'1'", "true"),
    "jsonb_set_lax" -> Seq("""'{"a": 1}'""", "'{a}'", "'5'"),
    "jsonb_set_lax" -> Seq("""'{"a": 1, "b": 2}'""", "'{a}'", "'5'", "true", "'delete_key'"),
    "jsonb_set_lax" -> Seq("""'{"b": 2, "a": 1}'""", "'{a}'", "'5'", "true", "'return_target'"),
    "jsonb_strip_nulls" -> Seq("""'{"a": null, "b": 1}'"""),
    "to_jsonb" -> Seq("42"),
    "to_jsonb" -> Seq("'abc'"),
    "to_jsonb" -> Seq("1.5D"),
    "to_jsonb" -> Seq("CAST(2.50 AS DECIMAL(4, 2))"),
    "to_jsonb" -> Seq("true"),
    "to_jsonb" -> Seq("array(1, 2, 3)"),
    "to_jsonb" -> Seq("named_struct('b', 2, 'a', 'x')"),
    "to_jsonb" -> Seq("map('k', 5)"),
    "to_jsonb" -> Seq("DATE'2024-03-01'"),
    "to_jsonb" -> Seq("TIMESTAMP'2024-03-01 10:20:30'"),
    "jsonb_build_array" -> Seq(),
    "jsonb_build_array" -> Seq("'a'", "1", "1.5D", "true", """'{"x": 1}'"""),
    "jsonb_build_object" -> Seq(),
    "jsonb_build_object" -> Seq("'a'", "1", "'b'", """'[true]'"""),
    "jsonb_build_object" -> Seq("7", "'a'", "false", "2.5D"),
    "jsonb_object" -> Seq("'{a,1,b,2}'"),
    "jsonb_object" -> Seq("'{a,b}'", "'{1,NULL}'"),
    "jsonb_pretty" -> Seq("""'{"a": [1, {"b": null}]}'"""),
    "jsonb_typeof" -> Seq("'[1]'"),
    "jsonb_array_elements" -> Seq("""'[1, "a", {"b": 2}]'"""),
    "jsonb_array_elements" -> Seq("'1'"),
    "jsonb_each" -> Seq("""'{"a": 1, "b": [2]}'"""),
    "jsonb_each_text" -> Seq("""'{"f1": [1, 2], "f4": null, "f6": "s"}'"""),
    "jsonb_object_keys" -> Seq("""'{"a": 1, "bb": 2}'"""),
    "jsonb_array_elements_text" -> Seq("""'["x", 1, null]'"""),
    "jsonb_get_path" -> Seq("""'{"a": {"b": [1, 2]}}'""", "'{a,b,-1}'"),
    "jsonb_get_path_text" -> Seq("""'{"a": {"b": "x"}}'""", "'{a,b}'"),
    "jsonb_extract_path" -> Seq("""'{"a": {"b": 7}}'""", "'a'", "'b'"),
    "jsonb_extract_path_text" -> Seq("""'{"a": {"b": "s"}}'""", "'a'", "'b'"),
    "jsonb_array_length" -> Seq("'[1, 2, 3]'"),
    "jsonb_path_exists" -> Seq("""'{"a": [1, 2, 3]}'""", "'$.a[*] ? (@ > 2)'"),
    "jsonb_path_exists" -> Seq("""'{"a": [1, 2, 3]}'""", "'$.a[*] ? (@ > $min)'",
      """'{"min": 2}'""", "false"),
    "jsonb_path_match" -> Seq("""'{"k": 93}'""", "'$.k > 50'"),
    "jsonb_path_match" -> Seq("""'{"k": 93}'""", "'$.k > $m'", """'{"m": 99}'""", "true"),
    "jsonb_path_query_array" -> Seq("'[1, 2, 3, 4]'", "'$[*] ? (@ % 2 == 0)'"),
    "jsonb_path_query_first" -> Seq("""'[{"a": 1}, {"a": 2}]'""", "'$[*].a ? (@ > $min)'",
      """'{"min": 1}'"""),
    "jsonb_path_query_first" -> Seq("'{}'", "'strict $.a'", "'{}'", "true"),
    "jsonb_path_query" -> Seq("""'{"a": 12, "b": {"a": 13}}'""", "'$.*'"),
    "jsonb_path_query" -> Seq("'[1]'", "'strict $[1]'", "'{}'", "true"),
    "jsonb_path_exists_tz" -> Seq("""'{"d": "2024-03-01"}'""", "'$.d ? (@.datetime() < \"2025-01-01\".datetime())'"),
    "jsonb_path_match_tz" -> Seq("""'{"k": 1}'""", "'$.k == 1'", "'{}'", "false"),
    "jsonb_path_query_array_tz" -> Seq("'[1, 2]'", "'$[*]'"),
    "jsonb_path_query_first_tz" -> Seq("'[1, 2]'", "'$[1]'"),
    "jsonb_path_query_tz" -> Seq("'[1, 2]'", "'$[*]'", "'{}'", "false"),
    "jsonb_length" -> Seq("'[1, 2, 3]'"),
    "jsonb_typerank" -> Seq("'true'"),
    "jsonb_astext" -> Seq("""'"hi"'"""),
    "jsonb_keys" -> Seq("""'{"a": 1, "b": 2}'"""),
    "jsonb_slice" -> Seq("'[0, 1, 2, 3, 4]'", "'1'", "'-1'"),
    "jsonb_set_key" -> Seq("""'{"a": 1}'""", "'b'", "'2'"),
    "jsonb_to_bool" -> Seq("'[0]'"),
    "jsonb_to_double" -> Seq("'3.25'"),
    "jsonb_to_long" -> Seq("'41.9'"),
    "jsonb_norm" -> Seq("""'{"b": 1.50, "a": [2]}'"""),
    "jsonb_sort_key" -> Seq("""'{"a": [1, "x"]}'"""),
    "vec_dot" -> Seq("array(1.0F, 2.0F)", "array(3.0D, 4.0D)"))

  /** Column-API helpers with no SQL name, applied to argument columns. */
  private val columnCalls: Seq[(String, Seq[String], Seq[Column] => Column)] = Seq(
    ("J.uminus", Seq("'1.5'"), a => J.uminus(a(0))),
    ("J.uplus", Seq("'2'"), a => J.uplus(a(0))),
    ("J.fromText", Seq("'hi'"), a => J.fromText(a(0))),
    ("J.head", Seq("'[1, 2, 3]'"), a => J.head(a(0))),
    ("J.last", Seq("'[1, 2, 3]'"), a => J.last(a(0))),
    ("J.tail", Seq("'[1, 2, 3]'"), a => J.tail(a(0))),
    ("J.toBooleanFn", Seq("""'"true"'"""), a => J.toBooleanFn(a(0))),
    ("J.toStringFn", Seq("'3.14'"), a => J.toStringFn(a(0))),
    ("J.arrDistinct", Seq("""'[2, 1, 2, "a"]'"""), a => J.arrDistinct(a(0))),
    ("J.arrSum", Seq("'[1, 2.5]'"), a => J.arrSum(a(0))),
    ("J.arrAvg", Seq("'[1, 2]'"), a => J.arrAvg(a(0))),
    ("J.arrMin", Seq("""'[3, 1, "a"]'"""), a => J.arrMin(a(0))),
    ("J.arrMax", Seq("""'[3, 1, "a"]'"""), a => J.arrMax(a(0))),
    ("J.fromLong", Seq("7"), a => J.fromLong(a(0))),
    ("J.fromDouble", Seq("2.5D"), a => J.fromDouble(a(0))),
    ("J.fromBool", Seq("true"), a => J.fromBool(a(0))),
    ("J.getKey", Seq("""'{"a": {"b": 1}}'"""), a => J.getKey(a(0), "a")),
    ("J.getDyn", Seq("'[5, 6]'", "'-1'"), a => J.getDyn(a(0), a(1))),
    ("J.sortKey", Seq("'-1.5'"), a => J.sortKey(a(0))),
    ("J.eachText", Seq("""'{"a": "x"}'"""), a => J.eachText(a(0))),
    ("J.pathQueryRows", Seq("'[1, 2]'"), a => J.pathQueryRows(a(0), "$[*]")),
    ("J.buildObject", Seq("1.5D"), a => J.buildObject("k" -> a(0))),
    ("JsonbNormalize.splitArray", Seq("'[1, [2]]'"), a => JsonbNormalize.splitArray(a(0))))

  /** The base call, then one variant per argument position with that
    * argument NULL: (label, position of the NULL).
    */
  private def variants(label: String, args: Seq[String]): Seq[(String, Option[Int])] =
    (None +: args.indices.map(Some(_))).map { nullAt =>
      val shown = nullAt.fold(args)(args.updated(_, "NULL"))
      (label + shown.mkString("(", ", ", ")"), nullAt)
    }

  /** A one-row RDD-backed frame of the arguments `a0, a1, ...`, with the
    * argument at `nullAt` set to NULL (keeping its type).
    */
  private def argFrame(args: Seq[String], nullAt: Option[Int]): DataFrame = {
    val lits = spark.sql("SELECT " + (if (args.isEmpty) "1 AS a0"
      else args.zipWithIndex.map { case (a, i) => s"$a AS a$i" }.mkString(", ")))
    val vals = lits.collect().head.toSeq.zipWithIndex.map { case (v, i) =>
      if (nullAt.contains(i)) null else v }
    val schema = org.apache.spark.sql.types.StructType(
      lits.schema.fields.map(_.copy(nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row.fromSeq(vals)), 1), schema)
  }

  private def render(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", " | ", "]")
    case other => other.toString.replace("\n", "\\n")
  }

  private def outcome(df: => DataFrame): String =
    try render(df.collect().head.get(0))
    catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c.getCause != null) c = c.getCause
        "ERR " + c.getMessage.linesIterator.next()
    }

  /** label -> outcome for every call and NULL variant. */
  private def runAll(): Seq[(String, String)] = {
    val viaSql = sqlCalls.flatMap { case (fn, args) =>
      variants(fn, args).map { case (label, nullAt) =>
        label -> outcome {
          val t = argFrame(args, nullAt)
          t.selectExpr(s"$fn(${args.indices.map(i => s"a$i").mkString(", ")})")
        }
      }
    }
    val viaColumns = columnCalls.flatMap { case (name, args, f) =>
      variants(name, args).map { case (label, nullAt) =>
        label -> outcome {
          val t = argFrame(args, nullAt)
          t.select(f(args.indices.map(i => col(s"a$i"))))
        }
      }
    }
    viaSql ++ viaColumns
  }

  private def inMode(confs: (String, String)*)(body: => Seq[(String, String)])
      : Seq[(String, String)] = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val golden: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/jsonb_mode_parity_golden.tsv")
    scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val t = l.indexOf('\t'); (l.take(t), l.drop(t + 1))
      }.toSeq
  }

  test("every registered jsonb SQL function has a parity case") {
    val covered = sqlCalls.map(_._1).toSet
    val registered = GraftExtensions.functions.map(_._1).toSet
    assert(registered -- covered == Set.empty)
    assert(covered -- registered == Set.empty)
  }

  test("generated code and the interpreter give the recorded values, NULL in each position") {
    val codegen = inMode(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(runAll())
    val interpreted = inMode(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(runAll())
    assert(codegen.map(_._1) == golden.map(_._1), "call list differs from the golden")
    val diffs = golden.indices.flatMap { i =>
      val (label, want) = golden(i)
      Seq("codegen" -> codegen(i)._2, "interpreted" -> interpreted(i)._2).collect {
        case (mode, got) if got != want => s"$mode $label\n  want $want\n  got  $got"
      }
    }
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }

  test("a call over literals folds to a literal in the optimized plan") {
    val plan = spark.sql("SELECT jsonb_add('1', '2')").queryExecution.optimizedPlan
    val projected = plan.collectFirst { case p: Project => p.projectList }.get
    assert(projected.collect { case Alias(Literal(v, _), _) => v.toString } == Seq("3"),
      plan.treeString)
  }

  test("a call over a nondeterministic argument is nondeterministic") {
    val r = "to_jsonb(rand())"
    val calls = Seq(
      s"jsonb_slice('[1, 2, 3]', $r, NULL)",
      s"""jsonb_set_key('{}', '"a"', $r)""",
      "jsonb_extract_path('{}', 'a', CAST(rand() AS STRING))",
      s"jsonb_set('{}', '{a}', $r)",
      s"jsonb_set_lax('{}', '{a}', $r)",
      s"jsonb_path_exists($r, '$$')")
    calls.foreach { call =>
      val qe = spark.sql(s"SELECT $call").queryExecution
      Seq(qe.analyzed, qe.optimizedPlan).foreach { plan =>
        val projected = plan.collectFirst { case p: Project => p.projectList.head }.get
        assert(!projected.deterministic, s"$call\n${plan.treeString}")
      }
    }
  }

  test("an auto-named jsonb column keeps its header") {
    val df = spark.sql("""SELECT jsonb_get('{"k": [1, 2]}', '"k"')""")
    assert(df.columns.toSeq == Seq("""jsonb_get({"k": [1, 2]}, "k")"""))
  }

  test("a property filter on a label stays inside whole-stage codegen") {
    val root = Files.createTempDirectory("graft_mode_parity").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("mp")
    s.createVLabel("item")
    // the string value keeps `batch` out of the numeric shred column, so
    // the filter evaluates the jsonb property itself
    s.cypher("CREATE (:item {batch: 1}), (:item {batch: 2}), (:item {batch: 1}), " +
      "(:item {batch: 'one'})")
    val df = s.cypher("MATCH (x:item {batch: 1}) RETURN count(*) AS n")
    assert(df.collect().head.get(0).toString == "2")
    val plan = df.queryExecution.executedPlan
    val jsonbFilters = collect(plan) {
      case f: FilterExec if f.condition.toString.contains("jsonb") ||
        f.condition.toString.contains("JsonbRT") => f
    }
    assert(jsonbFilters.nonEmpty, plan.treeString)
    val inCodegen = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => w.collect { case f: FilterExec => f })
    assert(jsonbFilters.forall(f => inCodegen.exists(_ eq f)), plan.treeString)
  }
}
