package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end Cypher semantics ported from the reference regression
  * suite (FIXTURES.md F1/F2/F5; expected values from
  * src/test/regress/expected/cypher_dml.out etc. — values, not code).
  */
class CypherEndToEndSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def freshSession(): CypherSession = {
    val root = Files.createTempDirectory("graft_graphs").toString
    new CypherSession(spark, new GraphCatalog(spark, root))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i =>
      if (r.isNullAt(i)) null else r.get(i)))

  // ------------------------------------------------- F1: core DML graph
  lazy val agens: CypherSession = {
    val s = freshSession()
    s.createGraph("agens")
    s.createVLabel("repo")
    s.createELabel("lib")
    s.createELabel("doc")
    s.cypher("""CREATE (g:repo {name: 'agens-graph', year: 2016})""")
    s.cypher(
      """MATCH (g:repo {name: 'agens-graph'})
        |CREATE (j:repo {name: 'agens-graph-jdbc', year: 2016}),
        |       (d:repo {name: 'agens-graph-docs', year: 2017})""".stripMargin)
    s.cypher(
      """MATCH (g:repo {name: 'agens-graph'}), (j:repo {name: 'agens-graph-jdbc'})
        |CREATE (g)-[:lib {lang: 'java'}]->(j)""".stripMargin)
    s.cypher(
      """MATCH (g:repo {name: 'agens-graph'}), (d:repo {name: 'agens-graph-docs'})
        |CREATE (g)-[:doc {lang: 'en'}]->(d)""".stripMargin)
    s
  }

  test("string literal unicode escapes: pairs combine, orphans error " +
      "(scan.l <xeu> surrogate rules)") {
    val got = rows(agens.cypher(
      "RETURN '\\ud83d\\ude04 ok \\u00a9' AS s")).head.head.toString
    assert(got.contains(new String(Character.toChars(0x1F604))) &&
      got.contains("©"), got)
    for (bad <- Seq("RETURN '\\ud83d' AS s", "RETURN '\\ud83dX' AS s",
        "RETURN '\\ude04' AS s", "RETURN '\\ud83d\\ud83d' AS s",
        // non-hex after a high surrogate: the lexer's own error,
        // never a raw NumberFormatException from parseInt
        "RETURN '\\ud83d\\uZZZZ' AS s")) {
      val e = intercept[IllegalArgumentException](agens.cypher(bad).collect())
      assert(e.getMessage.contains("surrogate"), s"$bad -> ${e.getMessage}")
    }
    val eh = intercept[IllegalArgumentException](
      agens.cypher("RETURN '\\uQQQQ' AS s").collect())
    assert(eh.getMessage.contains("invalid Unicode escape"), eh.getMessage)
    val e0 = intercept[IllegalArgumentException](
      agens.cypher("RETURN '\\u0000' AS s").collect())
    assert(e0.getMessage.contains("invalid Unicode escape value"))
  }

  test("F1: MATCH pattern join with property constraint + ORDER BY") {
    val df = agens.cypher(
      """MATCH (g:repo {name: 'agens-graph'})-[l]->(o)
        |RETURN o.name AS name, l.lang AS lang ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(
      Seq("\"agens-graph-docs\"", "\"en\""),
      Seq("\"agens-graph-jdbc\"", "\"java\"")))
  }

  test("F1: substring matrix from cypher_substring.out (AG246)") {
    val s = freshSession()
    s.createGraph("substring_ag246")
    s.createVLabel("string")
    s.cypher("CREATE (:string {sval: '123', nval: 123})")
    // substring(string, start, length): 0-based start, PG window clamp
    // (negative start consumes length — cypher_substring.out:9-36)
    val exp3 = Seq(-1 -> "\"\"", 0 -> "\"1\"", 1 -> "\"2\"", 2 -> "\"3\"",
      3 -> "\"\"")
    for ((st, want) <- exp3) {
      assert(rows(s.cypher(
        s"MATCH (u:string) RETURN substring(u.sval, $st, 1) AS r")) ==
        Seq(Seq(want)), s"substring(sval, $st, 1)")
      assert(rows(s.cypher(s"RETURN substring('123', $st, 1) AS r")) ==
        Seq(Seq(want)), s"substring('123', $st, 1)")
    }
    // substring(string, start): suffix form (cypher_substring.out:41-71)
    val exp2 = Seq(-1 -> "\"123\"", 0 -> "\"123\"", 1 -> "\"23\"",
      2 -> "\"3\"", 3 -> "\"\"")
    for ((st, want) <- exp2) {
      assert(rows(s.cypher(
        s"MATCH (u:string) RETURN substring(u.sval, $st) AS r")) ==
        Seq(Seq(want)), s"substring(sval, $st)")
      assert(rows(s.cypher(s"RETURN substring('123', $st) AS r")) ==
        Seq(Seq(want)), s"substring('123', $st)")
    }
    // deep-negative start still consumes length / clamps to the head
    assert(rows(s.cypher("RETURN substring('123', -2) AS r")) ==
      Seq(Seq("\"123\"")))
    assert(rows(s.cypher("RETURN substring('123', -2, 3) AS r")) ==
      Seq(Seq("\"1\"")))
    // a negative LENGTH is an error, not an empty string (PG substr:
    // "negative substring length not allowed"; text.c)
    val negLen = intercept[Exception](
      s.cypher("RETURN substring('123', 0, -1) AS r").collect()).getMessage
    assert(negLen.contains("negative substring length not allowed"))
    // ... but substr is STRICT: ANY null argument yields NULL — the
    // string, the start (greatest() would otherwise skip the null and
    // return the whole string) and the length
    assert(rows(s.cypher(
      "WITH null AS x RETURN substring(x, 0, -1) AS r")) == Seq(Seq(null)))
    assert(rows(s.cypher(
      "WITH null AS p RETURN substring('abc', p) AS r")) == Seq(Seq(null)))
    assert(rows(s.cypher(
      "WITH null AS l RETURN substring('abc', 0, l) AS r")) == Seq(Seq(null)))
  }

  test("EXPLAIN statement returns the plan without executing (cypher_dml.sql:475)") {
    val s = freshSession()
    s.createGraph("expl")
    s.createVLabel("ev")
    s.cypher("CREATE (:ev {k: 1})")
    val plan = s.cypher("EXPLAIN (VERBOSE, COSTS OFF) MATCH (n:ev) RETURN n.k AS k")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"), plan)
    assert(plan.contains("Scan parquet"), plan)
    // EXPLAIN of a write describes the ModifyGraph op without applying
    val wplan = s.cypher("EXPLAIN CREATE (:ev {k: 2})")
      .collect().map(_.getString(0)).mkString("\n")
    assert(wplan.contains("ModifyGraph (op=CREATE"), wplan)
    assert(s.cypher("MATCH (n:ev) RETURN n").count() == 1)
  }

  test("F1: implicit grouping with count(*)") {
    val df = agens.cypher(
      """MATCH (g:repo)-[r]->() RETURN g.name AS n, count(*) AS c""")
    assert(rows(df) == Seq(Seq("\"agens-graph\"", "2")))
  }

  test("F1: WHERE with comparison and boolean ops") {
    val df = agens.cypher(
      """MATCH (r:repo) WHERE r.year >= 2017 OR r.name = 'agens-graph'
        |RETURN r.name AS name ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("\"agens-graph\""), Seq("\"agens-graph-docs\"")))
  }

  test("F1: OPTIONAL MATCH yields nulls for misses") {
    val df = agens.cypher(
      """MATCH (r:repo) OPTIONAL MATCH (r)-[l:lib]->(x)
        |RETURN r.name AS name, x.name AS target ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(
      Seq("\"agens-graph\"", "\"agens-graph-jdbc\""),
      Seq("\"agens-graph-docs\"", null),
      Seq("\"agens-graph-jdbc\"", null)))
  }

  test("F1: WITH chaining + ORDER/SKIP/LIMIT + DISTINCT") {
    val df = agens.cypher(
      """MATCH (r:repo) WITH r.year AS y ORDER BY y RETURN DISTINCT y""")
    assert(rows(df).toSet == Set(Seq("2016"), Seq("2017")))
    val df2 = agens.cypher(
      """MATCH (r:repo) RETURN r.name AS name ORDER BY name SKIP 1 LIMIT 1""")
    assert(rows(df2) == Seq(Seq("\"agens-graph-docs\"")))
  }

  test("F1: UNION / UNION ALL across statements") {
    val df = agens.cypher(
      """MATCH (r:repo) RETURN r.year AS y
        |UNION ALL MATCH (r:repo) RETURN r.year AS y""".stripMargin)
    assert(df.count() == 6)
    val df2 = agens.cypher(
      """MATCH (r:repo) RETURN r.year AS y
        |UNION MATCH (r:repo) RETURN r.year AS y""".stripMargin)
    assert(df2.count() == 2)
  }

  test("F1: UNWIND + collect round trip") {
    val df = agens.cypher("UNWIND [1, 2, 3] AS x RETURN x")
    assert(rows(df) == Seq(Seq("1"), Seq("2"), Seq("3")))
    val df2 = agens.cypher("UNWIND [3, 1, 2] AS x WITH x ORDER BY x RETURN collect(x) AS c")
    assert(rows(df2) == Seq(Seq("[1, 2, 3]")))
  }

  test("F1: expression surface (literals, arithmetic, case, comprehension)") {
    val s = agens
    assert(rows(s.cypher("RETURN 1 + 1 AS a, 2 ^ 2 AS b, '1' + 1 AS c")) ==
      Seq(Seq("2", "4", "\"11\"")))
    assert(rows(s.cypher("RETURN [x IN [1,2,3,4] WHERE x % 2 = 0 | x * 10] AS l")) ==
      Seq(Seq("[20, 40]")))
    assert(rows(s.cypher("RETURN CASE WHEN 1 < 2 THEN 'y' ELSE 'n' END AS c")) ==
      Seq(Seq("\"y\"")))
    assert(rows(s.cypher("RETURN substring('agensgraph', 0, 5) AS s")) ==
      Seq(Seq("\"agens\"")))
    assert(rows(s.cypher("RETURN [0,1,2,3,4][1..3] AS s, [0,1,2][-1] AS e")) ==
      Seq(Seq("[1, 2]", "2")))
  }

  test("F7: literal surface from cypher_expr.out") {
    val s = agens
    // hex/octal literals (scan.l:993-998)
    assert(rows(s.cypher("RETURN -0x7fffffff AS a, 0x7fffffff AS b")) ==
      Seq(Seq("-2147483647", "2147483647")))
    assert(rows(s.cypher("RETURN -017777777777 AS a, 017777777777 AS b")) ==
      Seq(Seq("-2147483647", "2147483647")))
    // malformed / out-of-range radix literals raise the LEXER's own
    // diagnostics, never a raw NumberFormatException (scan.l errors)
    assert(intercept[IllegalArgumentException] {
      s.cypher("RETURN 0x AS a") }.getMessage.contains("hexadecimal"))
    assert(intercept[IllegalArgumentException] {
      s.cypher("RETURN 0xFFFFFFFFFFFFFFFFFF AS a") }
      .getMessage.contains("out of range"))
    assert(intercept[IllegalArgumentException] {
      s.cypher("RETURN 01777777777777777777777777 AS a") }
      .getMessage.contains("out of range"))
    // int8 max in both radixes; a leading zero before a non-octal
    // digit lexes as decimal (PG's integer regex)
    assert(rows(s.cypher(
      "RETURN 0x7fffffffffffffff AS a, 0777777777777777777777 AS b, 08 AS c")) ==
      Seq(Seq("9223372036854775807", "9223372036854775807", "8")))
    // E-notation prints plain; int8 boundaries keep exact values
    assert(rows(s.cypher("RETURN 6.02E23 AS x, 3.14 AS y")) ==
      Seq(Seq("602000000000000000000000", "3.14")))
    assert(rows(s.cypher("RETURN -9223372036854775808 AS a, 9223372036854775807 AS b")) ==
      Seq(Seq("-9223372036854775808", "9223372036854775807")))
    // escape processing in strings ('\n' value) but raw map keys
    assert(rows(s.cypher("RETURN {i: 7, s: 'x', 'z': NULL, l: [0, 1]} AS m")) ==
      Seq(Seq("""{"i": 7, "l": [0, 1], "s": "x"}""")))
    // list with nested structures renders PG-style
    assert(rows(s.cypher("RETURN [7, 7.0, true, null, [0], {p: 'p'}] AS l")) ==
      Seq(Seq("""[7, 7.0, true, null, [0], {"p": "p"}]""")))
    // integer division truncation and decimal division scale
    assert(rows(s.cypher("RETURN 1 / 2 AS a, 7 % 3 AS b, 2 ^ 10 AS c")) ==
      Seq(Seq("0", "1", "1024")))
    // string predicates
    assert(rows(s.cypher(
      "RETURN 'agens' STARTS WITH 'ag' AS a, 'agens' ENDS WITH 'ns' AS b, " +
        "'agens' CONTAINS 'gen' AS c, 'agens' =~ 'a.*s' AS d")) ==
      Seq(Seq(true, true, true, true)))
    // IN list + IS NULL
    assert(rows(s.cypher("RETURN 2 IN [1, 2, 3] AS a, null IS NULL AS b")) ==
      Seq(Seq(true, true)))
  }

  test("F1: parameters") {
    val df = agens.cypher("MATCH (r:repo {name: $nm}) RETURN r.year AS y",
      Map("nm" -> "agens-graph"))
    assert(rows(df) == Seq(Seq("2016")))
  }

  test("F1: SET / REMOVE / += semantics") {
    val s = freshSession()
    s.createGraph("setg")
    s.createVLabel("v")
    s.cypher("CREATE (:v {no: 1, keep: 'x'})")
    s.cypher("MATCH (n:v) SET n.no = 10")
    assert(rows(s.cypher("MATCH (n:v) RETURN n.no AS no")) == Seq(Seq("10")))
    s.cypher("MATCH (n:v) SET n += {extra: true, no: 11}")
    assert(rows(s.cypher("MATCH (n:v) RETURN n.no AS no, n.extra AS e")) ==
      Seq(Seq("11", "true")))
    s.cypher("MATCH (n:v) REMOVE n.keep")
    assert(s.lastWriteStats("updatedproperties") >= 1)
    assert(rows(s.cypher("MATCH (n:v) RETURN n.keep AS k")) == Seq(Seq(null)))
  }

  test("F1: DELETE and DETACH DELETE") {
    val s = freshSession()
    s.createGraph("delg")
    s.createVLabel("p")
    s.createELabel("r")
    s.cypher("CREATE (:p {n: 1})-[:r]->(:p {n: 2})")
    intercept[Exception] { s.cypher("MATCH (x:p {n: 1}) DELETE x") }
    s.cypher("MATCH (x:p {n: 1}) DETACH DELETE x")
    assert(s.cypher("MATCH (x:p) RETURN x.n AS n").count() == 1)
    assert(s.cypher("MATCH ()-[e:r]->() RETURN e").count() == 0)
  }

  test("F1: MERGE match-or-create with ON CREATE/ON MATCH") {
    val s = freshSession()
    s.createGraph("mg")
    s.createVLabel("m")
    s.cypher("MERGE (n:m {k: 1}) ON CREATE SET n.created = true ON MATCH SET n.matched = true")
    assert(rows(s.cypher("MATCH (n:m) RETURN n.created AS c, n.matched AS m2")) ==
      Seq(Seq("true", null)))
    s.cypher("MERGE (n:m {k: 1}) ON CREATE SET n.created2 = true ON MATCH SET n.matched = true")
    val out = rows(s.cypher("MATCH (n:m) RETURN n.created AS c, n.matched AS m2, n.created2 AS c2"))
    assert(out == Seq(Seq("true", "true", null)))
    // batch dedup: merging the same key from multiple rows creates once
    s.cypher("UNWIND [2, 2, 2] AS k MERGE (n:m {k: k})")
    assert(s.cypher("MATCH (n:m) RETURN n").count() == 2)
  }

  // ------------------------------------------- F2: traversal graph + VLE
  lazy val trav: CypherSession = {
    val s = freshSession()
    s.createGraph("trav")
    s.createVLabel("person")
    s.createELabel("knows")
    s.cypher(
      """CREATE (:person {name: 'a', id: 1}), (:person {name: 'b', id: 2}),
        |       (:person {name: 'c', id: 3}), (:person {name: 'd', id: 4})""".stripMargin)
    s.cypher("MATCH (x:person {id: 1}), (y:person {id: 2}) CREATE (x)-[:knows]->(y)")
    s.cypher("MATCH (x:person {id: 2}), (y:person {id: 3}) CREATE (x)-[:knows]->(y)")
    s.cypher("MATCH (x:person {id: 3}), (y:person {id: 4}) CREATE (x)-[:knows]->(y)")
    s
  }

  test("F2: fixed-length chain join") {
    val df = trav.cypher(
      """MATCH (a:person)-[:knows]->(b:person)-[:knows]->(c:person)
        |RETURN a.name AS a, c.name AS c ORDER BY a""".stripMargin)
    assert(rows(df) == Seq(Seq("\"a\"", "\"c\""), Seq("\"b\"", "\"d\"")))
  }

  test("F2: undirected match finds both directions") {
    val df = trav.cypher(
      """MATCH (a:person {id: 2})-[:knows]-(b) RETURN b.id AS id ORDER BY id""")
    assert(rows(df) == Seq(Seq("1"), Seq("3")))
  }

  test("F2: VLE *1..2 with edge arrays") {
    val df = trav.cypher(
      """MATCH (a:person {id: 1})-[r:knows*1..2]->(b)
        |RETURN b.id AS id ORDER BY id""".stripMargin)
    assert(rows(df) == Seq(Seq("2"), Seq("3")))
  }

  test("F2: VLE unbounded * and zero-length *0..") {
    val df = trav.cypher(
      """MATCH (a:person {id: 1})-[r:knows*]->(b) RETURN b.id AS id ORDER BY id""")
    assert(rows(df) == Seq(Seq("2"), Seq("3"), Seq("4")))
    val df0 = trav.cypher(
      """MATCH (a:person {id: 1})-[r:knows*0..1]->(b) RETURN b.id AS id ORDER BY id""")
    assert(rows(df0) == Seq(Seq("1"), Seq("2")))
  }

  test("F1: query parameters (prepared-statement analog, cypher_dml prepared section)") {
    val s = freshSession()
    s.createGraph("prm")
    s.createVLabel("n")
    s.cypher("CREATE (:n {id: 1, name: 'a'}), (:n {id: 2, name: 'b'})")
    // scalar param in WHERE
    val byId = s.cypher("MATCH (x:n) WHERE x.id = $want RETURN x.name AS name",
      Map("want" -> 2))
    assert(rows(byId) == Seq(Seq("\"b\"")))
    // list param with IN
    val byNames = s.cypher(
      "MATCH (x:n) WHERE x.name IN $names RETURN x.id AS id ORDER BY id",
      Map("names" -> Seq("a", "b")))
    assert(rows(byNames) == Seq(Seq("1"), Seq("2")))
    // param inside a CREATE property map
    s.cypher("CREATE (:n {id: $i, name: $nm})", Map("i" -> 3, "nm" -> "c"))
    val cnt = s.cypher("MATCH (x:n) RETURN count(*) AS c")
    assert(rows(cnt) == Seq(Seq("3")))
  }

  test("F1: stdev/stdevp aggregates (parse_cypher_expr.c:889-892 rename)") {
    import graft.expr.J
    import org.apache.spark.sql.functions.col
    val s = freshSession()
    s.createGraph("sd")
    s.createVLabel("n")
    Seq(2, 4, 4, 4, 5, 5, 7, 9).foreach(v => s.cypher(s"CREATE (:n {v: $v})"))
    val df = s.cypher("MATCH (x:n) RETURN stdevp(x.v) AS sp, stdev(x.v) AS sd")
      .select(J.toDouble(col("sp")).as("sp"), J.toDouble(col("sd")).as("sd"))
    val r = df.first()
    // population stddev of the classic set is exactly 2.0, but the
    // parallel sum's accumulation order varies run to run (32
    // partitions) — the last bit wobbles, so tolerance-compare like
    // every other float assert in the suite
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-12, r.getDouble(0))
    assert(math.abs(r.getDouble(1) - 2.13808993529939517) < 1e-12)
    // timestamp() returns epoch millis as a jsonb number
    val ts = s.cypher("RETURN timestamp() AS t")
      .select(J.toLong(col("t"))).first().getLong(0)
    assert(ts > 1700000000000L)
  }

  test("F1: DISTINCT dedups by jsonb equality (7 and 7.0 are one value)") {
    val s = freshSession()
    s.createGraph("dq")
    val df = s.cypher("UNWIND [7, 7.0, 7, 8] AS x RETURN DISTINCT x ORDER BY x")
    // PG jsonb equality: 7 = 7.0 -> two distinct values survive
    assert(df.count() == 2)
    // implicit grouping keys use the same equality
    val g = s.cypher("UNWIND [7, 7.0, 7, 8] AS x RETURN x, count(*) AS n ORDER BY x")
    assert(g.count() == 2)
    assert(rows(g).map(_.last) == Seq("3", "1"))
    // statement-level set ops too
    assert(s.cypher(
      "UNWIND [7, 8] AS x RETURN x INTERSECT UNWIND [7.0] AS x RETURN x").count() == 1)
    assert(s.cypher(
      "UNWIND [7, 8] AS x RETURN x EXCEPT UNWIND [7.0] AS x RETURN x").count() == 1)
    assert(s.cypher(
      "UNWIND [7] AS x RETURN x UNION UNWIND [7.0] AS x RETURN x").count() == 1)
    // count(DISTINCT) and collect(DISTINCT) agree
    val cd = s.cypher(
      "UNWIND [7, 7.0, 8] AS x RETURN count(DISTINCT x) AS n")
    assert(rows(cd) == Seq(Seq("2")))
  }

  test("F1: size((a)-[]->()) pattern-count expression (cypher_dml SIZE)") {
    val s = freshSession()
    s.createGraph("ps")
    s.createVLabel("repo"); s.createELabel("lib")
    s.cypher("CREATE (:repo {name: 'a'}), (:repo {name: 'b'}), (:repo {name: 'c'})")
    s.cypher("MATCH (x:repo {name: 'a'}), (y:repo {name: 'b'}) CREATE (x)-[:lib]->(y)")
    s.cypher("MATCH (x:repo {name: 'a'}), (y:repo {name: 'c'}) CREATE (x)-[:lib]->(y)")
    val sz = s.cypher(
      "MATCH (a:repo) RETURN a.name AS a, size((a)-[]->()) AS s ORDER BY a")
    assert(rows(sz) == Seq(Seq("\"a\"", "2"), Seq("\"b\"", "0"), Seq("\"c\"", "0")))
    // plain size() still works on lists and strings
    assert(rows(s.cypher("RETURN size([1, 2, 3]) AS n")) == Seq(Seq("3")))
    // and exists() on the same pattern agrees with size() > 0
    val ex = s.cypher(
      "MATCH (a:repo) WHERE exists((a)-[]->()) RETURN a.name AS a")
    assert(rows(ex) == Seq(Seq("\"a\"")))
  }

  test("F2: graphpath accessors nodes()/relationships()/length()") {
    val df = trav.cypher(
      """MATCH p = (a:person {id: 1})-[r:knows*2..2]->(b)
        |RETURN length(p) AS len""".stripMargin)
    assert(rows(df) == Seq(Seq("2")))
  }

  test("F2: path element access nodes(p)[i] / relationships(p)[i]") {
    // mirrors cypher_dml.sql:345-366 "VLE with graph path"
    val df = trav.cypher(
      """MATCH p = (a:person {id: 1})-[r:knows*2..2]->(b)
        |RETURN properties(nodes(p)[0]) AS first,
        |       properties(nodes(p)[1]) AS second,
        |       properties(nodes(p)[2]) AS third,
        |       id(nodes(p)[0]) = id(startnode(r[0])) AS cs,
        |       id(nodes(p)[1]) = id(endnode(r[0])) AS ce""".stripMargin)
    val r = df.collect()(0)
    assert(r.getString(0) == """{"id": 1, "name": "a"}""")
    assert(r.getString(1) == """{"id": 2, "name": "b"}""")
    assert(r.getString(2) == """{"id": 3, "name": "c"}""")
    assert(r.getBoolean(3) && r.getBoolean(4))
  }

  test("F2: multi-pattern OPTIONAL MATCH (cypher_dml.sql:241-278 shape)") {
    val df = trav.cypher(
      """MATCH (n:person {id: 1}), (m:person {id: 4})
        |OPTIONAL MATCH (n)-[r:knows]->(p2), (m)-[s:knows]->(q)
        |RETURN p2.id AS p2, q.id AS q""".stripMargin)
    // id 4 has no outgoing edge -> whole optional side is null
    assert(rows(df) == Seq(Seq(null, null)))
  }

  test("DISTINCT aggregates (sum/collect/count DISTINCT)") {
    val df = agens.cypher(
      """UNWIND [1, 2, 2, 3, 3, 3] AS x
        |RETURN count(DISTINCT x) AS c, sum(DISTINCT x) AS s,
        |       collect(DISTINCT x) AS l, min(DISTINCT x) AS mn""".stripMargin)
    assert(rows(df) == Seq(Seq("3", "6", "[1, 2, 3]", "1")))
  }

  test("head/last on path element arrays") {
    val df = trav.cypher(
      """MATCH p = (a:person {id: 1})-[r:knows*2..2]->(b)
        |RETURN properties(head(nodes(p))) AS h,
        |       properties(last(nodes(p))) AS l""".stripMargin)
    val r = df.collect()(0)
    assert(r.getString(0) == """{"id": 1, "name": "a"}""")
    assert(r.getString(1) == """{"id": 3, "name": "c"}""")
  }

  test("AG-154 regression: unbounded VLE over a tree (unlabeled CREATE)") {
    val s = freshSession()
    s.createGraph("ag154")
    s.createELabel("rel")
    s.cypher("CREATE ({id: 1})-[:rel]->({id: 11})")
    for ((from, to) <- Seq(11 -> 111, 111 -> 1111, 111 -> 1112, 111 -> 1113,
      11 -> 112, 112 -> 1121, 112 -> 1122, 11 -> 113, 113 -> 1131, 113 -> 1132))
      s.cypher(s"MATCH (a {id: $from}) CREATE (a)-[:rel]->({id: $to})")
    val lens = s.cypher(
      "MATCH ({id: 1})-[r:rel*]->() RETURN length(r) AS len ORDER BY len")
      .collect().map(_.getString(0)).toSeq
    assert(lens == Seq("1", "2", "2", "2", "3", "3", "3", "3", "3", "3", "3"))
  }

  test("AG-216a regression: shared variable across CREATE paths") {
    val s = freshSession()
    s.createGraph("ag216a")
    s.createVLabel("v1"); s.createVLabel("v2")
    s.createELabel("e1")
    s.cypher("CREATE (n:v1)-[:e1]->(:v2 {lv: 1}), (n)-[:e1]->(:v2 {lv: 1})")
    // one v1 vertex, two v2 vertices, both edges from the same v1
    assert(s.cypher("MATCH (n:v1) RETURN n").count() == 1)
    assert(s.cypher("MATCH (:v1)-[:e1]->(m:v2) RETURN m").count() == 2)
  }

  test("F2: shortestpath and allshortestpaths") {
    val df = trav.cypher(
      """MATCH p = shortestpath((a:person {id: 1})-[:knows*..5]->(b:person {id: 4}))
        |RETURN length(p) AS len""".stripMargin)
    assert(rows(df) == Seq(Seq("3")))
  }

  test("F4: shortestpath over a cycle back to the origin") {
    val s = freshSession()
    s.createGraph("cyc")
    s.createVLabel("n"); s.createELabel("e")
    s.cypher("CREATE (:n {id: 1})-[:e]->(:n {id: 2})")
    s.cypher("MATCH (a:n {id: 2}) CREATE (a)-[:e]->(:n {id: 3})")
    s.cypher("MATCH (a:n {id: 3}), (b:n {id: 1}) CREATE (a)-[:e]->(b)")
    val df = s.cypher(
      """MATCH p = shortestpath((a:n {id: 1})-[:e*..5]->(b:n {id: 1}))
        |RETURN length(p) AS len""".stripMargin)
    assert(rows(df) == Seq(Seq("3")))
  }

  test("F4: allshortestpaths keeps all minimal paths (diamond)") {
    val s = freshSession()
    s.createGraph("dia")
    s.createVLabel("n"); s.createELabel("e")
    s.cypher("CREATE (:n {id: 1}), (:n {id: 2}), (:n {id: 3}), (:n {id: 4})")
    for ((f, t) <- Seq(1 -> 2, 1 -> 3, 2 -> 4, 3 -> 4))
      s.cypher(s"MATCH (a:n {id: $f}), (b:n {id: $t}) CREATE (a)-[:e]->(b)")
    val all = s.cypher(
      """MATCH p = allshortestpaths((a:n {id: 1})-[:e*..4]->(b:n {id: 4}))
        |RETURN length(p) AS len""".stripMargin)
    assert(all.collect().map(_.getString(0)).toSeq == Seq("2", "2"))
    val one = s.cypher(
      """MATCH p = shortestpath((a:n {id: 1})-[:e*..4]->(b:n {id: 4}))
        |RETURN length(p) AS len""".stripMargin)
    assert(one.count() == 1)
  }

  test("cypher_shortestpath.sql line-graph matrix: expression vs MATCH position") {
    // reference cypher_shortestpath.sql:27-100 — the semantic split:
    // shortestpath() in EXPRESSION position preserves non-matching
    // (p, f) rows with a NULL path (the reference's ids() helper
    // renders them {}), while MATCH x = shortestpath(...) FILTERS
    // them. Line graph 1->2->3->4->5->6, p fixed at 3.
    val s = freshSession()
    s.createGraph("spline")
    s.createVLabel("person"); s.createELabel("knows")
    s.cypher(
      """CREATE (:person {id: 1})-[:knows]->(:person {id: 2})-[:knows]->
        |(:person {id: 3})-[:knows]->(:person {id: 4})-[:knows]->
        |(:person {id: 5})-[:knows]->(:person {id: 6})""".stripMargin)
    def ids(q: String): Seq[String] =
      s.cypher(q).collect().map(r =>
        Option(r.getString(0)).getOrElse("null")).toSeq.sorted
    // single-hop, both endpoints bound: direct edge vs no edge
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 3 AND f.id = 4
      RETURN [v IN nodes(shortestpath((p)-[:knows]->(f))) | v.id] AS ids""")
      == Seq("[3, 4]"))
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 3 AND f.id = 5
      RETURN [v IN nodes(shortestpath((p)-[:knows]->(f))) | v.id] AS ids""")
      == Seq("null"))
    // expression position over ALL f: row per f, NULL where no path
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 3
      RETURN [v IN nodes(shortestpath((p)<-[:knows]-(f))) | v.id] AS ids""")
      == Seq("[3, 2]", "null", "null", "null", "null", "null"))
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 3
      RETURN [v IN nodes(shortestpath((p)-[:knows*]->(f))) | v.id] AS ids""")
      == Seq("[3, 4, 5, 6]", "[3, 4, 5]", "[3, 4]",
        "null", "null", "null"))
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 3
      RETURN [v IN nodes(shortestpath((p)<-[:knows*]-(f))) | v.id] AS ids""")
      == Seq("[3, 2, 1]", "[3, 2]", "null", "null", "null", "null"))
    // MATCH position: non-matching rows are dropped
    assert(ids("""MATCH (p:person), (f:person), x = shortestpath((p)<-[:knows*]-(f))
      WHERE p.id = 3
      RETURN [v IN nodes(x) | v.id] AS ids""")
      == Seq("[3, 2, 1]", "[3, 2]"))
    assert(ids("""MATCH (p:person), (f:person), x = shortestpath((p)-[:knows*]->(f))
      WHERE p.id = 3
      RETURN [v IN nodes(x) | v.id] AS ids""")
      == Seq("[3, 4, 5, 6]", "[3, 4, 5]", "[3, 4]"))
    // endpoints declared inline in the path pattern
    assert(ids("""MATCH x = shortestpath((p:person)-[:knows*]->(f:person))
      WHERE p.id = 3
      RETURN [v IN nodes(x) | v.id] AS ids""")
      == Seq("[3, 4, 5, 6]", "[3, 4, 5]", "[3, 4]"))
    // allshortestpaths as EXPRESSION returns the path array; length()
    // is the path COUNT (cypher_shortestpath.sql:136-142: a second
    // 2-hop route 3->x->5 makes two 4-hop undirected paths 1..5)
    s.cypher("""MATCH (p:person), (f:person) WHERE p.id = 3 AND f.id = 5
      CREATE (p)-[:knows]->(:person {id: 60})-[:knows]->(f)""")
    assert(ids("""MATCH (p:person), (f:person) WHERE p.id = 1 AND f.id = 5
      RETURN length(allshortestpaths((p)-[:knows*]-(f))) AS cnt""")
      == Seq("2"))
  }

  test("cypher_func.sql AG249: log == ln, string coercion, log10 distinct") {
    val s = freshSession()
    s.createGraph("fng"); s.createVLabel("numbers")
    s.cypher("CREATE (:numbers {string: '10', numeric: 10})")
    val r = s.cypher(
      """MATCH (u:numbers)
        |RETURN log(u.string) AS a, ln(u.numeric) AS b,
        |  log(u.numeric) AS c, log10(u.numeric) AS d""".stripMargin).first()
    // log() is the NATURAL log (the reference renamed it per AG249),
    // numeric strings coerce like PG casts them
    assert(r.getString(0) == r.getString(1) && r.getString(1) == r.getString(2))
    assert(r.getString(0).startsWith("2.302585"), r.getString(0))
    assert(r.getString(3).toDouble == 1.0, r.getString(3))
  }

  test("F2: zero-length shortestpath on orphan vertices (cypher_shortestpath2 'Orphan')") {
    // cypher_shortestpath2.sql:298-305 — vertices with no edges:
    // `*0..` with o1=o2 returns the single-vertex path, `*1..` nothing,
    // distinct endpoints nothing
    val s = freshSession()
    s.createGraph("orphan")
    s.createVLabel("o"); s.createELabel("e")
    s.cypher("CREATE (:o {id: 1}), (:o {id: 2})")
    def n(q: String): Long = s.cypher(q).count()
    val zeroSame =
      s.cypher("""MATCH p = shortestpath((o1:o)-[:e*0..]->(o2:o))
        |WHERE o1.id = 1 AND o2.id = 1
        |RETURN length(p) AS len""".stripMargin)
    assert(rows(zeroSame) == Seq(Seq("0")))
    assert(n("MATCH p = shortestpath((o1:o)-[:e*1..]->(o2:o)) WHERE o1.id = 1 AND o2.id = 1 RETURN p") == 0)
    assert(n("MATCH p = shortestpath((o1:o)-[:e*0..]->(o2:o)) WHERE o1.id = 1 AND o2.id = 2 RETURN p") == 0)
    assert(n("MATCH p = allshortestpaths((o1:o)-[:e*0..]->(o2:o)) WHERE o1.id = 1 AND o2.id = 1 RETURN p") == 1)
    // a 2-cycle: zero-length still wins for o1=o2 under *0.., and the
    // cycle is found under *1..
    s.cypher("""MATCH (a:o {id: 1}), (b:o {id: 2})
      |CREATE (a)-[:e]->(b), (b)-[:e]->(a)""".stripMargin)
    val cyc0 = s.cypher("""MATCH p = shortestpath((o1:o)-[:e*0..]->(o2:o))
      |WHERE o1.id = 1 AND o2.id = 1 RETURN length(p) AS len""".stripMargin)
    assert(rows(cyc0) == Seq(Seq("0")))
    val cyc1 = s.cypher("""MATCH p = shortestpath((o1:o)-[:e*1..]->(o2:o))
      |WHERE o1.id = 1 AND o2.id = 1 RETURN length(p) AS len""".stripMargin)
    assert(rows(cyc1) == Seq(Seq("2")))
  }

  test("F2: shortestpath reverse and undirected edge patterns (cypher_shortestpath2:307-323)") {
    val s = freshSession()
    s.createGraph("spdir")
    s.createVLabel("o"); s.createELabel("e")
    s.cypher("CREATE (:o {id: 1})-[:e]->(:o {id: 2})")
    def lens(q: String): Seq[String] =
      rows(s.cypher(q)).map(_.head.toString)
    // reverse: (o1)<-[:e]-(o2) needs an edge o2->o1; only 1->2 exists
    assert(lens("""MATCH p = shortestpath((o1:o)<-[:e*1..]-(o2:o))
      |WHERE o1.id = 1 AND o2.id = 2 RETURN length(p) AS len""".stripMargin).isEmpty)
    assert(lens("""MATCH p = shortestpath((o1:o)<-[:e*1..]-(o2:o))
      |WHERE o1.id = 2 AND o2.id = 1 RETURN length(p) AS len""".stripMargin) == Seq("1"))
    // undirected reaches both ways
    assert(lens("""MATCH p = shortestpath((o1:o)-[:e*1..]-(o2:o))
      |WHERE o1.id = 1 AND o2.id = 2 RETURN length(p) AS len""".stripMargin) == Seq("1"))
    assert(lens("""MATCH p = shortestpath((o1:o)-[:e*1..]-(o2:o))
      |WHERE o1.id = 2 AND o2.id = 1 RETURN length(p) AS len""".stripMargin) == Seq("1"))
  }

  test("F2: dijkstra weighted path") {
    val s = freshSession()
    s.createGraph("dij")
    s.createVLabel("n")
    s.createELabel("e")
    s.cypher("CREATE (:n {id: 1}), (:n {id: 2}), (:n {id: 3})")
    s.cypher("MATCH (a:n {id: 1}), (b:n {id: 2}) CREATE (a)-[:e {w: 1}]->(b)")
    s.cypher("MATCH (a:n {id: 2}), (b:n {id: 3}) CREATE (a)-[:e {w: 1}]->(b)")
    s.cypher("MATCH (a:n {id: 1}), (b:n {id: 3}) CREATE (a)-[:e {w: 5}]->(b)")
    val df = s.cypher(
      """MATCH p = dijkstra((a:n {id: 1})-[e:e]->(b:n {id: 3}), e.w)
        |RETURN length(p) AS len""".stripMargin)
    // cheapest path is the 2-hop (cost 2) not the direct (cost 5)
    assert(rows(df) == Seq(Seq("2")))
  }

  // --------------------------------------- F5: label inheritance diamond
  test("F5: inheritance subtree scan + labels() closure") {
    val s = freshSession()
    s.createGraph("inh")
    s.createVLabel("a")
    s.createVLabel("b", parents = Seq("a"))
    s.createVLabel("c", parents = Seq("a"))
    s.createVLabel("d", parents = Seq("b", "c"))
    Seq("a", "b", "c", "d").foreach { l =>
      s.cypher(s"CREATE (:$l {name: '$l'})")
    }
    // MATCH (n:c) scans c and its child d
    val df = s.cypher("MATCH (n:c) RETURN n.name AS name ORDER BY name")
    assert(rows(df) == Seq(Seq("\"c\""), Seq("\"d\"")))
    // ONLY scan
    val df2 = s.cypher("MATCH (n:only c) RETURN n.name AS name")
    assert(rows(df2) == Seq(Seq("\"c\"")))
    // label() returns own label; labels() the DAG closure in BFS
    // order, parents by creation id (cypher_func.out simple test)
    val df3 = s.cypher("MATCH (n:only d) RETURN label(n) AS l, labels(n) AS ls")
    assert(rows(df3) == Seq(Seq("\"d\"", "[\"d\", \"b\", \"c\", \"a\"]")))
    // labels(n)[i] indexes the closure (cypher_func.sql:31-44)
    val df4 = s.cypher(
      "MATCH (n:only d) RETURN labels(n)[0] AS l0, labels(n)[1] AS l1")
    assert(rows(df4) == Seq(Seq("\"d\"", "\"b\"")))
  }

  test("F5: edge-label inheritance matrix with ONLY and VLE (cypher_dml vl/el)") {
    // golden from cypher_dml.out: el2 INHERITS el1, el3 INHERITS el2;
    // [:el1] scans the subtree, [:el1 ONLY] the exact label (postfix
    // ONLY, gram.y:18684), and both compose with *1..3 expansion
    val s = freshSession()
    s.createGraph("inhm")
    s.createVLabel("vl1"); s.createVLabel("vl2", Seq("vl1"))
    s.createVLabel("vl3", Seq("vl2"))
    s.createELabel("el1"); s.createELabel("el2", Seq("el1"))
    s.createELabel("el3", Seq("el2"))
    s.cypher("CREATE (:vl1 {id:1})")
    s.cypher("CREATE (:vl2 {id:2})")
    s.cypher("CREATE (:vl3 {id:3})")
    s.cypher("MATCH (A:vl1 {id:1}), (B:vl2 {id:2}) MERGE (A)-[:el1]->(B)")
    s.cypher("MATCH (A:vl1 {id:1}), (C:vl3 {id:3}) MERGE (A)-[:el2]->(C)")
    s.cypher("MATCH (B:vl2 {id:2}), (C:vl3 {id:3}) MERGE (B)-[:el3]->(C)")
    def pairs(q: String): Seq[(String, String)] =
      rows(s.cypher(q)).map(r => (r(0).toString, r(1).toString))
        .sortBy(identity)
    // vertex subtree scans + postfix ONLY
    assert(rows(s.cypher("MATCH (N:vl1) RETURN N.id AS i ORDER BY i")) ==
      Seq(Seq("1"), Seq("2"), Seq("3")))
    assert(rows(s.cypher("MATCH (N:vl2 ONLY) RETURN N.id AS i")) ==
      Seq(Seq("2")))
    intercept[Exception] { s.cypher("MATCH (N ONLY) RETURN N") }
    // directed edge subtree scans
    assert(pairs("MATCH (A)-[r:el1]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "2"), ("1", "3"), ("2", "3")))
    assert(pairs("MATCH (A)-[r:el2]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "3"), ("2", "3")))
    assert(pairs("MATCH (A)-[r:el3]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("2", "3")))
    // exact-label edge scans
    assert(pairs("MATCH (A)-[r:el1 ONLY]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "2")))
    assert(pairs("MATCH (A)-[r:el2 ONLY]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "3")))
    intercept[Exception] { s.cypher("MATCH (A)-[r ONLY]->(B) RETURN A.id") }
    // reverse + undirected subtree
    assert(pairs("MATCH (A)<-[r:el2]-(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("3", "1"), ("3", "2")))
    assert(rows(s.cypher(
      "MATCH (A)-[r:el1]-(B) RETURN count(*) AS n")) == Seq(Seq("6")))
    // VLE over the subtree vs exact label (cypher_dml.out *1..3 rows)
    assert(pairs("MATCH (A)-[r:el1 *1..3]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "2"), ("1", "3"), ("1", "3"), ("2", "3")))
    assert(pairs("MATCH (A)-[r:el2 *1..3]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "3"), ("2", "3")))
    assert(pairs("MATCH (A)-[r:el1 ONLY *1..3]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "2")))
    assert(pairs("MATCH (A)-[r:el2 ONLY *1..3]->(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("1", "3")))
    assert(pairs("MATCH (A)<-[r:el1 ONLY *1..3]-(B) RETURN A.id AS a, B.id AS b") ==
      Seq(("2", "1")))
  }

  test("F5: labels() closure order over inheritance diamonds (cypher_func complex1/complex2)") {
    // find_all_ancestors is a BFS worklist with parents visited in
    // CREATION order (pg_inherits.c:735 + find_inheritance_parents'
    // oid qsort); golden values from cypher_func.out complex tests.
    def closure(s: CypherSession, lbl: String): String =
      rows(s.cypher(s"MATCH (n:only $lbl) RETURN labels(n) AS ls"))(0)(0)
        .asInstanceOf[String]
    locally {
      val s = freshSession()
      s.createGraph("complex1")
      s.createVLabel("a"); s.createVLabel("b", Seq("a")); s.createVLabel("c")
      s.createVLabel("d"); s.createVLabel("e", Seq("b", "c"))
      s.createVLabel("f"); s.createVLabel("g")
      s.createVLabel("h", Seq("d")); s.createVLabel("i", Seq("d"))
      s.createVLabel("j", Seq("d")); s.createVLabel("k", Seq("e", "f", "g"))
      s.createVLabel("l", Seq("i", "j", "k", "g"))
      for (n <- Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l"))
        s.cypher(s"CREATE (:$n {name: '$n'})")
      assert(closure(s, "e") == "[\"e\", \"b\", \"c\", \"a\"]")
      assert(closure(s, "k") == "[\"k\", \"e\", \"f\", \"g\", \"b\", \"c\", \"a\"]")
      assert(closure(s, "l") ==
        "[\"l\", \"g\", \"i\", \"j\", \"k\", \"d\", \"e\", \"f\", \"b\", \"c\", \"a\"]")
    }
    locally {
      val s = freshSession()
      s.createGraph("complex2")
      s.createVLabel("a"); s.createVLabel("b"); s.createVLabel("c", Seq("a"))
      s.createVLabel("d", Seq("a", "b")); s.createVLabel("e", Seq("d"))
      s.createVLabel("f", Seq("a")); s.createVLabel("g", Seq("e", "f"))
      s.createVLabel("h", Seq("c", "g")); s.createVLabel("i", Seq("g"))
      s.createVLabel("j", Seq("h", "i"))
      for (n <- Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j"))
        s.cypher(s"CREATE (:$n {name: '$n'})")
      assert(closure(s, "d") == "[\"d\", \"a\", \"b\"]")
      assert(closure(s, "g") == "[\"g\", \"e\", \"f\", \"d\", \"a\", \"b\"]")
      assert(closure(s, "h") ==
        "[\"h\", \"c\", \"g\", \"a\", \"e\", \"f\", \"d\", \"b\"]")
      assert(closure(s, "j") ==
        "[\"j\", \"h\", \"i\", \"c\", \"g\", \"a\", \"e\", \"f\", \"d\", \"b\"]")
    }
  }

  test("ORDER BY aggregate expression (ORDER BY count(*))") {
    val df = trav.cypher(
      """MATCH (a:person)-[:knows*1..3]->(b:person)
        |RETURN a.name AS name, count(*) AS c ORDER BY count(*) DESC, name LIMIT 2""".stripMargin)
    assert(rows(df) == Seq(Seq("\"a\"", "3"), Seq("\"b\"", "2")))
  }

  test("WITH ... WHERE on aggregate (HAVING shape)") {
    val df = trav.cypher(
      """MATCH (a:person)-[:knows*1..3]->(b:person)
        |WITH a.name AS name, count(*) AS c WHERE c >= 2
        |RETURN name, c ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("\"a\"", "3"), Seq("\"b\"", "2")))
  }

  test("reversed and undirected VLE") {
    val df = trav.cypher(
      """MATCH (b:person {id: 4})<-[r:knows*1..2]-(a) RETURN a.id AS id ORDER BY id""")
    assert(rows(df) == Seq(Seq("2"), Seq("3")))
    val df2 = trav.cypher(
      """MATCH (b:person {id: 2})-[r:knows*1..1]-(x) RETURN x.id AS id ORDER BY id""")
    assert(rows(df2) == Seq(Seq("1"), Seq("3")))
  }

  test("startnode()/endnode() re-fetch endpoint vertices") {
    val df = agens.cypher(
      """MATCH ()-[l:lib]->()
        |RETURN startnode(l).name AS s, endnode(l).name AS e""".stripMargin)
    assert(rows(df) == Seq(Seq("\"agens-graph\"", "\"agens-graph-jdbc\"")))
  }

  test("startnode()/endnode() inside a list literal, IS NULL and CASE") {
    val df = agens.cypher(
      """MATCH ()-[l:lib]->()
        |RETURN [startnode(l).name, endnode(l).year] AS xs,
        |       endnode(l).name IS NULL AS missing,
        |       CASE l.lang WHEN 'java' THEN startnode(l).year ELSE 0 END AS y""".stripMargin)
    assert(rows(df) == Seq(Seq("[\"agens-graph\", 2016]", false, "2016")))
  }

  test("startnode()/endnode() under WITH ... WHERE and MATCH ... WHERE") {
    val q1 = agens.cypher(
      """MATCH ()-[l:lib]->() WITH l WHERE startnode(l).name = 'agens-graph'
        |RETURN l.lang AS lang""".stripMargin)
    assert(rows(q1) == Seq(Seq("\"java\"")))
    val q2 = agens.cypher(
      """MATCH ()-[l]->() WHERE endnode(l).year = 2017
        |RETURN l.lang AS lang""".stripMargin)
    assert(rows(q2) == Seq(Seq("\"en\"")))
    // the endpoint vertex joins in for the filter only: the WITH still
    // binds just its own items
    val q3 = agens.cypher(
      """MATCH ()-[l]->() WITH l.lang AS lang, l WHERE endnode(l).year = 2016
        |RETURN *""".stripMargin)
    assert(q3.columns.toSeq == Seq("lang", "l") && q3.count() == 1)
  }

  /** Two v vertices, n = 1 and n = 2, and one e edge from 1 to 2. */
  private def oneEdgeGraph(name: String): CypherSession = {
    val s = freshSession()
    s.createGraph(name)
    s.createVLabel("v"); s.createELabel("e")
    s.cypher("CREATE (:v {n: 1})-[:e]->(:v {n: 2})")
    s
  }

  test("a hop's re-bound target label raises the scan's label diagnostics") {
    val s = oneEdgeGraph("rebind")
    assert(rows(s.cypher(
      "MATCH (a:v)-[:e]->(b) MATCH (a)-[:e]->(b:v) RETURN b.n AS n")) ==
      Seq(Seq("2")))
    val unknown = intercept[IllegalArgumentException](s.cypher(
      "MATCH (a:v)-[:e]->(b) MATCH (a)-[:e]->(b:nosuch) RETURN b.n AS n")
      .collect())
    assert(unknown.getMessage.contains("label \"nosuch\" does not exist"),
      unknown.getMessage)
    val edge = intercept[IllegalArgumentException](s.cypher(
      "MATCH (a:v)-[:e]->(b) MATCH (a)-[:e]->(b:e) RETURN b.n AS n").collect())
    assert(edge.getMessage.contains("label \"e\" is edge label"), edge.getMessage)
  }

  test("pattern predicates under WITH ... WHERE match the MATCH WHERE form") {
    val s = oneEdgeGraph("wexists")
    val viaMatch = rows(s.cypher(
      "MATCH (a:v) WHERE exists((a)-[:e]->()) RETURN a.n AS n"))
    assert(viaMatch == Seq(Seq("1")))
    assert(rows(s.cypher(
      "MATCH (a:v) WITH a WHERE exists((a)-[:e]->()) RETURN a.n AS n")) ==
      viaMatch)
    // size() over a pattern too, and the WITH still binds only `a`
    assert(rows(s.cypher(
      "MATCH (a:v) WITH a WHERE size((a)-[:e]->()) = 0 RETURN a.n AS n")) ==
      Seq(Seq("2")))
    assert(s.cypher("MATCH (a:v) WITH a WHERE size((a)-[:e]->()) = 0 RETURN *")
      .columns.toSeq == Seq("a"))
  }

  test("ORDER BY follows jsonb btree type ranks across mixed types") {
    val df = agens.cypher(
      """UNWIND [{a: 1}, [1], true, 1, 'x', null] AS v
        |RETURN v ORDER BY v""".stripMargin)
    // jsonb null is a VALUE (lowest rank), distinct from SQL NULL;
    // rank: null < string < numeric < bool < array < object
    assert(rows(df).map(_.head) ==
      Seq("null", "\"x\"", "1", "true", "[1]", """{"a": 1}"""))
  }

  test("OPTIONAL MATCH as first clause joins against one dummy row") {
    val s = freshSession()
    s.createGraph("om")
    s.createVLabel("z")
    val df = s.cypher("OPTIONAL MATCH (n:z) RETURN n.k AS k")
    assert(rows(df) == Seq(Seq(null))) // one row, null binding
  }

  test("invalid jsonb operator combos raise 'invalid expression'") {
    val ex = intercept[Exception] {
      agens.cypher("RETURN '' + false AS x").collect()
    }
    assert(ex.getMessage.contains("invalid expression") ||
      ex.getCause != null)
  }

  test("F5: deep inheritance DAG subtree scans") {
    val s = freshSession()
    s.createGraph("deep")
    // chain a<-b<-c<-d<-e plus side-branch f INHERITS (b)
    s.createVLabel("a")
    s.createVLabel("b", parents = Seq("a"))
    s.createVLabel("c", parents = Seq("b"))
    s.createVLabel("d", parents = Seq("c"))
    s.createVLabel("e2", parents = Seq("d"))
    s.createVLabel("f", parents = Seq("b"))
    Seq("a", "b", "c", "d", "e2", "f").foreach(l => s.cypher(s"CREATE (:$l {name: '$l'})"))
    assert(s.cypher("MATCH (n:a) RETURN n").count() == 6)
    assert(s.cypher("MATCH (n:b) RETURN n").count() == 5)
    assert(s.cypher("MATCH (n:c) RETURN n").count() == 3)
    assert(s.cypher("MATCH (n:only b) RETURN n").count() == 1)
    val ls = s.cypher("MATCH (n:only e2) RETURN labels(n) AS ls").collect()(0).getString(0)
    assert(ls == """["e2", "d", "c", "b", "a"]""")
  }

  test("SET on edge properties") {
    val s = freshSession()
    s.createGraph("eset")
    s.createVLabel("v"); s.createELabel("r")
    s.cypher("CREATE (:v {k: 1})-[:r {w: 1}]->(:v {k: 2})")
    s.cypher("MATCH ()-[e:r]->() SET e.w = 9, e.tag = 'x'")
    val out = s.cypher("MATCH ()-[e:r]->() RETURN e.w AS w, e.tag AS t")
    assert(rows(out) == Seq(Seq("9", "\"x\"")))
  }

  // persons graph of cypher_dml2.sql:43-70 (list predicates / isEmpty)
  lazy val persons: CypherSession = {
    val s = freshSession()
    s.createGraph("dml2")
    s.createVLabel("person")
    s.createELabel("knows")
    s.createELabel("married")
    s.cypher(
      """CREATE (a:person {name: 'Alice', age: 51, eyes: 'brown'}),
        |(b:person {name: 'Frank', age: 61, eyes: '', liked_colors: ['blue','green']}),
        |(c:person {name: 'Charlie', age: 53, eyes: 'green'}),
        |(d:person {name: 'Bob', age: 25, eyes: 'blue'}),
        |(e:person {name: 'Daniel', age: 54, eyes: 'brown', liked_colors: ''}),
        |(f:person {name: 'Eskil', age: 41, eyes: 'blue', liked_colors: ['pink','yellow','black']}),
        |(a)-[:knows]->(c), (a)-[:knows]->(d), (c)-[:knows]->(e),
        |(d)-[:knows]->(e), (d)-[:married]->(f)""".stripMargin)
    s
  }

  test("all(x IN nodes(p) WHERE ...) filters whole paths (cypher_dml2.out:108-118)") {
    val df = persons.cypher(
      """MATCH p = (a)-[*1..3]->(b)
        |WHERE a.name = 'Alice' AND b.name = 'Daniel'
        |  AND all(x IN nodes(p) WHERE x.age > 30)
        |RETURN [x in nodes(p) | x.age] AS ages""".stripMargin)
    assert(rows(df) == Seq(Seq("[51, 53, 54]")))
  }

  test("any(c IN list WHERE ...) over a jsonb list (cypher_dml2.out:120-127)") {
    val df = persons.cypher(
      """MATCH (n) WHERE any(color IN n.liked_colors WHERE color = 'yellow')
        |RETURN n.name AS name""".stripMargin)
    assert(rows(df) == Seq(Seq("\"Eskil\"")))
  }

  test("none/single list predicates") {
    val none = persons.cypher(
      """MATCH (n) WHERE n.liked_colors IS NOT NULL
        |  AND none(c IN n.liked_colors WHERE c = 'yellow')
        |  AND size(n.liked_colors) > 0
        |RETURN n.name AS name""".stripMargin)
    assert(rows(none) == Seq(Seq("\"Frank\"")))
    val single = persons.cypher(
      """MATCH (n) WHERE single(c IN n.liked_colors WHERE c = 'green')
        |RETURN n.name AS name""".stripMargin)
    assert(rows(single) == Seq(Seq("\"Frank\"")))
  }

  test("exists(pattern) predicate + identifier case folding (cypher_dml2.out:129-143)") {
    // [:MARRIED] folds to :married (PG unquoted-identifier rule); the
    // predicate is false, never null, for non-matching rows
    val df = persons.cypher(
      """MATCH (n) WHERE n.name IS NOT NULL
        |RETURN n.name AS name, exists((n)-[:MARRIED]->()) AS is_married
        |ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(
      Seq("\"Alice\"", false), Seq("\"Bob\"", true), Seq("\"Charlie\"", false),
      Seq("\"Daniel\"", false), Seq("\"Eskil\"", false), Seq("\"Frank\"", false)))
  }

  test("exists(pattern) in WHERE filters correlated rows") {
    val df = persons.cypher(
      """MATCH (n:person) WHERE exists((n)-[:knows]->())
        |RETURN n.name AS name ORDER BY name""".stripMargin)
    assert(rows(df) ==
      Seq(Seq("\"Alice\""), Seq("\"Bob\""), Seq("\"Charlie\"")))
  }

  test("isEmpty over lists and strings (cypher_dml2.out:145-154)") {
    val df = persons.cypher(
      """MATCH (n) WHERE NOT isEmpty(n.liked_colors)
        |RETURN n.name AS name ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("\"Eskil\""), Seq("\"Frank\"")))
  }

  test("SET NULL-map and property-+= error like the reference (cypher_dml.out:2334-2346,2381)") {
    val s = freshSession()
    s.createGraph("setnull")
    s.cypher("CREATE ({age: 10})")
    val e1 = intercept[IllegalArgumentException] {
      s.cypher("MATCH (a) SET a += NULL")
    }
    assert(e1.getMessage.contains("cannot set property map to NULL"))
    val e2 = intercept[IllegalArgumentException] {
      s.cypher("MATCH (a) SET a = NULL")
    }
    assert(e2.getMessage.contains("cannot set property map to NULL"))
    val e3 = intercept[IllegalArgumentException] {
      s.cypher("MATCH (a) SET a.name += 'someone'")
    }
    assert(e3.getMessage.contains("+= operator on a property is not allowed"))
    // the merge form still works (cypher_dml.out:2320-2333)
    val out = s.cypher(
      "MATCH (a) SET a += {name: 'bitnine', age: 3} RETURN properties(a) AS p")
    assert(rows(out) == Seq(Seq("{\"age\": 3, \"name\": \"bitnine\"}")))
  }

  test("SET with undefined attributes: NULL results remove the key (cypher_dml.out undefined-attr block)") {
    val s = freshSession()
    s.createGraph("undefattr")
    s.cypher("CREATE ({name: 'bitnine'})")
    s.cypher("CREATE ({age: 10})")
    val r1 = s.cypher(
      "MATCH (a) SET a.age = a.age + 1 WITH a RETURN properties(a) AS p")
    assert(rows(r1).map(_.head).toSet ==
      Set("{\"age\": 11}", "{\"name\": \"bitnine\"}"))
    s.cypher("MATCH (a) SET a.age = 2017 - a.undefined_attr")
    val r2 = s.cypher("MATCH (a) RETURN properties(a) AS p")
    assert(rows(r2).map(_.head).toSet ==
      Set("{}", "{\"name\": \"bitnine\"}"))
  }

  test("nested aggregates error; collect over zero rows is NULL (cypher_dml2.out:1-20)") {
    val s = freshSession()
    s.createGraph("dml2agg")
    s.createVLabel("v1")
    val err = intercept[IllegalArgumentException] {
      s.cypher("MATCH (p:v1) RETURN max(collect(p.name)) AS col").collect()
    }
    assert(err.getMessage.contains("cannot be nested"))
    // empty label: collect -> NULL (jsonb_agg), max(NULL) -> NULL
    val df = s.cypher(
      "MATCH (p:v1) WITH collect(p.name) AS col RETURN max(col) AS m")
    assert(rows(df) == Seq(Seq(null)))
  }

  test("LOAD FROM joins a Spark table into the pipeline") {
    val s = agens
    import spark.implicits._
    Seq((2016, "first release"), (2017, "docs")).toDF("year", "event")
      .createOrReplaceTempView("history")
    val df = s.cypher(
      """LOAD FROM history AS h MATCH (r:repo)
        |WHERE r.year = h.year AND r.name = 'agens-graph'
        |RETURN h.event AS event""".stripMargin)
    assert(rows(df) == Seq(Seq("\"first release\"")))
  }

  // scalar SQL subquery as a Cypher expression (parse_cypher_expr.c
  // sublink; cypher_dml.sql:50-52 and cypher_dml.out:28,89-117)
  test("(SELECT ...) scalar subquery in property maps, RETURN and WHERE") {
    val s = agens
    import spark.implicits._
    Seq((2014, "Graph"), (2016, "Release")).toDF("year", "event")
      .createOrReplaceTempView("history")
    // RETURN position (cypher_dml.out:28)
    assert(rows(s.cypher(
      "RETURN (SELECT event FROM history WHERE year = 2016) AS e"))
      == Seq(Seq("\"Release\"")))
    // property-map position, like {year: (SELECT year FROM history ...)}
    val s2 = freshSession()
    s2.createGraph("subq"); s2.createVLabel("repo2")
    s2.cypher(
      """CREATE (g:repo2 {name: 'agens-graph',
        |                 year: (SELECT year FROM history WHERE event = 'Graph')})""".stripMargin)
    assert(rows(s2.cypher("MATCH (g:repo2) RETURN g.year AS y"))
      == Seq(Seq("2014")))
    // WHERE position
    assert(s2.cypher(
      """MATCH (g:repo2)
        |WHERE g.year < (SELECT max(year) FROM history) RETURN g""".stripMargin)
      .count() == 1)
    // 0 rows -> NULL (null property values are dropped from the map)
    s2.cypher(
      "CREATE (:repo2 {name: 'x', year: (SELECT year FROM history WHERE event = 'nope')})")
    assert(rows(s2.cypher(
      "MATCH (g:repo2 {name: 'x'}) RETURN g.year AS y")) == Seq(Seq(null)))
    // >1 rows -> error (cypher_dml.out more-than-one-row sublink error)
    val err = intercept[Exception] {
      s2.cypher("RETURN (SELECT year FROM history) AS y").collect()
    }
    assert(err.getMessage.contains("more than one row"))
  }

  // regression: the sublink body is lifted VERBATIM from the source —
  // SQL-only lexemes the Cypher lexer would otherwise mangle (|| is
  // two '|' tokens to the Cypher lexer; re-rendering with spaces
  // breaks the SQL concat operator) must reach the SQL engine intact
  test("(SELECT ...) sublink body reaches SQL verbatim") {
    val s = agens
    assert(rows(s.cypher("RETURN (SELECT 'ag' || 'ens') AS c"))
      == Seq(Seq("\"agens\"")))
    // nested parens and a subquery-in-FROM survive the balanced scan
    assert(rows(s.cypher(
      """RETURN (SELECT max(x)
        |        FROM (SELECT 1 AS x UNION ALL SELECT 2 AS x)) AS m""".stripMargin))
      == Seq(Seq("2")))
  }

  // §2.11 UDF interop — Cypher invoking session-registered functions,
  // the cypher_plpgsql.sql direction (user functions callable from
  // Cypher expressions, like any pg_proc entry in the reference).
  test("session-registered UDFs are callable from Cypher expressions") {
    val s = agens
    // string UDF over a property (astext arg conversion unquotes)
    spark.udf.register("shout", (x: String) => x.toUpperCase + "!")
    assert(rows(s.cypher(
      """MATCH (g:repo {name: 'agens-graph'})
        |RETURN shout(g.name) AS n""".stripMargin))
      == Seq(Seq("\"AGENS-GRAPH!\"")))
    // numeric arg: jsonb number → astext → implicit cast to Long
    spark.udf.register("next_year", (y: Long) => y + 1)
    assert(rows(s.cypher(
      """MATCH (g:repo {name: 'agens-graph'})
        |RETURN next_year(g.year) AS y""".stripMargin))
      == Seq(Seq("2017")))
    // WHERE position: jsonb result participates in comparisons
    assert(s.cypher(
      """MATCH (g:repo) WHERE next_year(g.year) = 2017
        |RETURN g.name AS n""".stripMargin).count() == 2)
    // NULL result stays SQL NULL (no 'null'::jsonb)
    spark.udf.register("maybe", (x: String) => if (x == "no") x else null)
    assert(rows(s.cypher("RETURN maybe('yes') AS m")) == Seq(Seq(null)))
    // jsonb_path_exists with a literal path compiles to the native
    // boolean expression (not the astext UDF door): like the
    // reference, where it returns a PG boolean — same kind as a
    // comparison — and unlike door-folded results it never becomes
    // jsonb text. (The sidecar-pushdown interception in compileFn owns
    // this spelling; see ExplainSpec.)
    assert(rows(s.cypher(
      """MATCH (g:repo {name: 'agens-graph'})
        |RETURN jsonb_path_exists(properties(g), '$.year ? (@ >= 2016)') AS p""".stripMargin))
      == Seq(Seq(true)))
    // a query_first result is jsonb TEXT from the function's SQL type
    // (string), so the fold-back quotes it — same rule as shout above
    assert(rows(s.cypher(
      """MATCH (g:repo {name: 'agens-graph'})
        |RETURN jsonb_path_query_first(properties(g), '$.year') AS y""".stripMargin))
      == Seq(Seq("\"2016\"")))
    // unknown names still error with PG's wording
    val err = intercept[Exception] {
      s.cypher("RETURN definitely_not_registered_fn(1) AS x").collect()
    }
    assert(err.getMessage.contains("unknown function"))
  }

  // cypher_dml2.sql:201-220 (#589): a MATCH may follow an update
  // clause through WITH — MERGE … WITH n MATCH … MERGE chains plan and
  // the later MERGE sees both the earlier write and the matched row.
  test("write clause, WITH, then MATCH and a second MERGE (#589)") {
    val s = freshSession()
    s.createGraph("dml2")
    s.createVLabel("main"); s.createVLabel("another")
    s.createELabel("main2")
    s.cypher("CREATE (n:another {id: 593})")
    s.cypher(
      """MERGE (n:main {id: 593})
        |ON CREATE SET n.id = 593
        |WITH n
        |MATCH (g:another)
        |WHERE g.id = 593
        |MERGE (g)-[:main2]->(n)""".stripMargin)
    // undirected edge pattern returns the edge twice (both directions)
    assert(s.cypher("MATCH ()-[e:main2]-() RETURN e").count() == 2)
    assert(s.cypher("MATCH (g:another) RETURN g").count() == 1)
    assert(s.cypher("MATCH (g:main) RETURN g").count() == 1)
    // idempotent: re-running the MERGE chain creates nothing new
    s.cypher(
      """MERGE (n:main {id: 593})
        |ON CREATE SET n.id = 593
        |WITH n
        |MATCH (g:another)
        |WHERE g.id = 593
        |MERGE (g)-[:main2]->(n)""".stripMargin)
    assert(s.cypher("MATCH ()-[e:main2]->() RETURN e").count() == 1)
  }

  // cypher_dml2.sql:223-244 (#599): a repeated variable on both
  // endpoints constrains to self-loops, including through path vars.
  test("shared endpoint variable means self-loop (#599)") {
    val s = freshSession()
    s.createGraph("dml599")
    s.createELabel("e1")
    s.cypher("CREATE ({id: 1})-[:e1]->({id: 2})-[:e1]->({id: 3})-[:e1]->({id: 4})")
    s.cypher("MATCH (a {id: 1}), (b {id: 1}) CREATE (b)-[:e1]->(a)")
    assert(s.cypher("MATCH (a) RETURN *").count() == 4)
    // the only self-loop is the (id:1)->(id:1) edge just created; the
    // undirected pattern reports it twice
    assert(s.cypher("MATCH (a)-[]-(a) RETURN *").count() == 2)
    assert(s.cypher("MATCH p=(a)-[]-(a) RETURN *").count() == 2)
  }
}
