package graft.jsonb

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.expr.JsonbRT

/** jsonb_set / jsonb_set_lax / jsonb_insert / jsonb_strip_nulls /
  * jsonb_pretty / jsonb_typeof goldens transcribed from the
  * reference's jsonb.out (behavioral data regenerated by
  * tools/gen_jsonbfns_fixture.py into
  * src/test/resources/jsonbfns_golden.json; error cases compare the
  * reference's exact message text).
  */
class JsonbFnsSpec extends AnyFunSuite {

  private case class Arg(s: Option[String], b: Option[Boolean], isNull: Boolean)
  private case class Case(fn: String, args: Vector[Arg],
      result: Option[String], error: Option[String], sql: String)

  private lazy val cases: Vector[Case] = {
    val in = getClass.getResourceAsStream("/jsonbfns_golden.json")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val JArr(items) = (Jsonb.parse(text): @unchecked)
    items.map { it =>
      val o = it.asInstanceOf[JObj]
      def str(k: String): Option[String] = o.get(k).collect { case JStr(s) => s }
      val args = o.get("args").collect { case JArr(as) => as }.get.map { a =>
        val ao = a.asInstanceOf[JObj]
        Arg(
          s = ao.get("s").collect { case JStr(s) => s },
          b = ao.get("b").collect { case JBool(b) => b },
          isNull = ao.get("null").isDefined)
      }
      Case(str("fn").get, args.toVector, str("result"), str("error"),
        str("sql").getOrElse(""))
    }.toVector
  }

  private def u(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def run(c: Case): Either[String, String] = {
    def sArg(i: Int): String =
      if (i >= c.args.length || c.args(i).isNull) null else c.args(i).s.orNull
    def bArg(i: Int, dflt: Boolean): Boolean =
      if (i >= c.args.length) dflt else c.args(i).b.getOrElse(dflt)
    try {
      val r: UTF8String = c.fn match {
        case "jsonb_typeof" =>
          if (sArg(0) == null) null else JsonbRT.typeofJ(u(sArg(0)))
        case "jsonb_strip_nulls" =>
          if (sArg(0) == null) null else JsonbRT.stripNullsJ(u(sArg(0)))
        case "jsonb_pretty" =>
          if (sArg(0) == null) null else JsonbRT.prettyJ(u(sArg(0)))
        case "jsonb_set" =>
          // STRICT: any SQL NULL argument -> NULL
          if (sArg(0) == null || sArg(1) == null || sArg(2) == null) null
          else JsonbRT.jsonbSet(u(sArg(0)), u(sArg(1)), u(sArg(2)),
            bArg(3, dflt = true))
        case "jsonb_insert" =>
          if (sArg(0) == null || sArg(1) == null || sArg(2) == null) null
          else JsonbRT.jsonbInsert(u(sArg(0)), u(sArg(1)), u(sArg(2)),
            bArg(3, dflt = false))
        case "jsonb_set_lax" =>
          if (sArg(0) == null || sArg(1) == null) null
          else JsonbRT.jsonbSetLax(u(sArg(0)), u(sArg(1)), u(sArg(2)),
            bArg(3, dflt = true),
            if (c.args.length > 4) u(sArg(4)) else u("use_json_null"))
      }
      Right(if (r == null) null else r.toString)
    } catch {
      case e: Jsonb.JsonbFnError => Left(e.getMessage)
    }
  }

  test("jsonb_object: 1-D/2-D text[] forms and error parity (jsonb.out:1561-1625)") {
    def o1(a: String): String = JsonbRT.jsonbObject1(u(a)).toString
    def o2(k: String, v: String): String =
      JsonbRT.jsonbObject2(u(k), u(v)).toString
    def err(f: => String): String =
      intercept[Jsonb.JsonbFnError](f).getMessage
    assert(o1("{}") == "{}")
    assert(o2("{}", "{}") == "{}")
    assert(o1("""{a,1,b,2,3,NULL,"d e f","a b c"}""") ==
      """{"3": null, "a": "1", "b": "2", "d e f": "a b c"}""")
    assert(o1("""{{a,1},{b,2},{3,NULL},{"d e f","a b c"}}""") ==
      """{"3": null, "a": "1", "b": "2", "d e f": "a b c"}""")
    assert(err(o1("{a,b,c}")) == "array must have even number of elements")
    assert(err(o1("{{a},{b}}")) == "array must have two columns")
    assert(err(o1("{{a,b,c},{b,c,d}}")) == "array must have two columns")
    assert(err(o1("{{{a,b},{c,d}},{{b,c},{d,e}}}")) ==
      "wrong number of array subscripts")
    assert(o2("""{a,b,c,"d e f"}""", """{1,2,3,"a b c"}""") ==
      """{"a": "1", "b": "2", "c": "3", "d e f": "a b c"}""")
    assert(err(o2("""{{a,1},{b,2}}""", """{{a,1},{b,2}}""")) ==
      "wrong number of array subscripts")
    assert(err(o2("""{a,b,c,"d e f",g}""", """{1,2,3,"a b c"}""")) ==
      "mismatched array dimensions")
    assert(err(o2("""{a,b,c,"d e f"}""", """{1,2,3,"a b c",g}""")) ==
      "mismatched array dimensions")
    assert(err(o2("""{a,b,NULL,"d e f"}""", """{1,2,3,"a b c"}""")) ==
      "null value not allowed for object key")
    assert(o2("""{a,b,"","d e f"}""", """{1,2,3,"a b c"}""") ==
      """{"": "3", "a": "1", "b": "2", "d e f": "a b c"}""")
  }

  test("jsonb delete overloads: index, scalar errors (jsonb.out:4289-4462)") {
    def di(j: String, i: Int): String = JsonbRT.deleteIdx(u(j), i).toString
    def err(f: => Any): String =
      intercept[Jsonb.JsonbFnError](f).getMessage
    assert(di("""["a","b","c"]""", 3) == """["a", "b", "c"]""")
    assert(di("""["a","b","c"]""", 2) == """["a", "b"]""")
    assert(di("""["a","b","c"]""", 1) == """["a", "c"]""")
    assert(di("""["a","b","c"]""", 0) == """["b", "c"]""")
    assert(di("""["a","b","c"]""", -1) == """["a", "b"]""")
    assert(di("""["a","b","c"]""", -2) == """["a", "c"]""")
    assert(di("""["a","b","c"]""", -3) == """["b", "c"]""")
    assert(di("""["a","b","c"]""", -4) == """["a", "b", "c"]""")
    assert(err(di("\"a\"", 1)) == "cannot delete from scalar")
    assert(err(di("{}", 1)) == "cannot delete from object using integer index")
    assert(err(JsonbRT.deleteKey(u("\"a\""), u("a")))
      == "cannot delete from scalar")
  }

  test("set_lax treatments beyond the golden corpus; malformed path literals") {
    def lax(t: String, p: String, nv: String, tr: String): String = {
      val r = JsonbRT.jsonbSetLax(u(t), u(p), u(nv), true, u(tr))
      if (r == null) null else r.toString
    }
    // return_target canonicalizes (sorted keys, canonical spacing)
    assert(lax("""{"b":2,"a":1}""", "{b}", null, "return_target")
      == """{"a": 1, "b": 2}""")
    assert(intercept[Jsonb.JsonbFnError](
      lax("""{"a":1}""", "{a}", null, "raise_exception")).getMessage
      == "JSON value must not be null")
    // a non-null value delegates to jsonb_set without validating the
    // treatment (reference order, jsonb_set_lax)
    assert(lax("""{"a":1}""", "{a}", "2", "bogus") == """{"a": 2}""")
    // malformed PG text[] path literals error like array_in
    for (bad <- Seq("{a,}", "{a,,b}", "{a", "a}", "{\"x}"))
      assert(intercept[Jsonb.JsonbFnError](
        JsonbRT.jsonbSet(u("""{"a":1}"""), u(bad), u("2"), true))
        .getMessage.startsWith("malformed array literal"))
  }

  test("path extraction goldens from jsonb.out (#>, #>>, extract_path, array_length)") {
    val in = getClass.getResourceAsStream("/jsonb_pathops_golden.json")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val JArr(items) = (Jsonb.parse(text): @unchecked)
    var n = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    items.foreach { it =>
      val o = it.asInstanceOf[JObj]
      def str(k: String): Option[String] = o.get(k).collect { case JStr(s) => s }
      val fn = str("fn").get; val doc = str("doc").get
      val path = str("path")
      val want: Either[String, Option[String]] =
        str("error").map(Left(_)).getOrElse(Right(str("result")))
      // the extracted `path` field already carries a braced PG literal
      // for every fn that has one
      val got2: Either[String, Option[String]] =
        try Right(Option(fn match {
          case "get_path" => JsonbRT.getPathJ(u(doc), u(path.get))
          case "get_path_text" => JsonbRT.getPathText(u(doc), u(path.get))
          case "extract_path" | "extract_path_text" =>
            val keys = new org.apache.spark.sql.catalyst.util.GenericArrayData(
              Jsonb.parseTextArray(path.get).map(_.map(u).orNull))
            JsonbRT.extractPath(u(doc), keys, fn.endsWith("_text"))
          case "array_length" =>
            UTF8String.fromString(JsonbRT.arrayLengthJ(u(doc)).toString)
        }).map(_.toString))
        catch { case e: Jsonb.JsonbFnError => Left(e.getMessage) }
      n += 1
      if (got2 != want)
        failures += s"${str("sql").getOrElse("")}\n  expected $want\n  got $got2"
    }
    assert(n > 70, s"loaded $n cases")
    assert(failures.isEmpty,
      s"${failures.length}/$n mismatches:\n" + failures.take(10).mkString("\n"))
  }

  test("golden corpus from jsonb.out (set/insert/set_lax/strip_nulls/pretty/typeof)") {
    assert(cases.length > 75, s"fixture loaded ${cases.length} cases")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    cases.foreach { c =>
      val got = run(c)
      val ok = (c.error, got) match {
        case (Some(e), Left(m))  => m == e
        case (None, Right(r))    => Option(r) == c.result
        case _                   => false
      }
      if (!ok)
        failures += s"${c.sql}\n  expected ${c.error.orElse(c.result)}\n  got $got"
    }
    assert(failures.isEmpty,
      s"${failures.length}/${cases.length} mismatches:\n" +
        failures.take(10).mkString("\n"))
  }
}
