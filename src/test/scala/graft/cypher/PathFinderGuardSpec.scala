package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity restrictions and loud depth-cap behavior for the
  * path finders (parse_shortestpath.c; the silent-truncation review
  * findings): dijkstra rejects variable-length relationships, the
  * shortest-path family rejects minimal length > 1, an ENGINE-capped
  * unbounded search errors loudly when pairs are still unmatched at
  * the cap — but stays silent when every requested pair already has
  * its answer (deeper frontiers cannot change a shortest path) — and
  * dijkstra's weight/qual compile against the session's parameter map.
  */
class PathFinderGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def chainSession(n: Int): CypherSession = {
    val root = Files.createTempDirectory("graft_pfguard").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("g")
    s.createVLabel("v"); s.createELabel("e")
    s.cypher(s"UNWIND range(0, ${n - 1}) AS i CREATE (:v {n: i})")
    s.cypher(
      "MATCH (x:v), (y:v) WHERE y.n = x.n + 1 CREATE (x)-[:e {w: 2}]->(y)")
    s
  }

  test("dijkstra rejects a variable-length relationship (reference parity)") {
    val s = chainSession(4)
    val e = intercept[IllegalArgumentException] {
      s.cypher(
        """MATCH p = dijkstra((a:v {n: 0})-[e:e*1..2]->(b:v), 1)
          |RETURN count(*) AS c""".stripMargin).count()
    }
    assert(e.getMessage.contains(
      "variable length relationship is not supported"), e.getMessage)
  }

  test("shortestpath rejects minimal length > 1 (reference parity)") {
    val s = chainSession(4)
    val e = intercept[IllegalArgumentException] {
      s.cypher(
        """MATCH p = shortestpath((a:v {n: 0})-[:e*2..3]->(b:v))
          |RETURN count(*) AS c""".stripMargin).count()
    }
    assert(e.getMessage.contains("only 0 or 1 is allowed"), e.getMessage)
  }

  test("unbounded shortestpath past the cap: loud when pairs unmatched, " +
      "silent when all pairs answered") {
    val s = chainSession(70) // 69 edges end to end; default cap 64
    // target at hop 69 > cap 64 with a live frontier: the former
    // behavior was a silent zero-row answer (the reference searches
    // to LONG_MAX, parse_shortestpath.c:458)
    val e = intercept[IllegalStateException] {
      s.cypher(
        """MATCH p = shortestpath((a:v {n: 0})-[:e*]->(b:v {n: 69}))
          |RETURN length(p) AS l""".stripMargin).count()
    }
    assert(e.getMessage.contains("maxDepth"), e.getMessage)
    // raised cap serves it
    spark.conf.set("spark.graft.maxDepth", "80")
    try assert(s.cypher(
      """MATCH p = shortestpath((a:v {n: 0})-[:e*]->(b:v {n: 69}))
        |RETURN length(p) AS l""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("69"))
    finally spark.conf.unset("spark.graft.maxDepth")
    // target WITHIN the cap: the pair is answered at depth 5, so
    // the cap-hit is harmless and must stay silent even though the
    // chain keeps extending past 64
    assert(s.cypher(
      """MATCH p = shortestpath((a:v {n: 0})-[:e*]->(b:v {n: 5}))
        |RETURN length(p) AS l""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("5"))
  }

  test("dijkstra that cannot converge within the cap errors loudly") {
    val s = chainSession(70)
    val e = intercept[IllegalStateException] {
      s.cypher(
        """MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 69}), 1)
          |RETURN count(*) AS c""".stripMargin).count()
    }
    assert(e.getMessage.contains("converge"), e.getMessage)
    spark.conf.set("spark.graft.maxDepth", "80")
    try assert(s.cypher(
      """MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 69}), 1)
        |RETURN length(p) AS l""".stripMargin)
      .collect().map(_.getString(0)).toSeq == Seq("69"))
    finally spark.conf.unset("spark.graft.maxDepth")
  }

  test("dijkstra weight/qual see $parameters and the labid catalog") {
    val s = chainSession(6)
    def pathsWithQual(qual: String, params: Map[String, Any]) = s.cypher(
      s"""MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 3}), e.w * $$f, $qual)
         |RETURN length(p) AS l""".stripMargin, params)
      .collect().map(_.getString(0)).toSeq
    // $f resolves in BOTH weight and qual (every edge has w = 2):
    // qual e.w = $f keeps the chain when f = 2...
    assert(pathsWithQual("e.w = $f", Map("f" -> 2)) == Seq("3"))
    // ...and prunes everything when f = 3 (the old empty parameter map
    // threw "missing parameter" before either could run)
    assert(pathsWithQual("e.w = $f", Map("f" -> 3)).isEmpty)
    // type(e) resolves through the labid catalog (an empty labid map
    // would NULL it out and silently prune every edge)
    assert(pathsWithQual("type(e) = 'e'", Map("f" -> 1)) == Seq("3"))
    assert(pathsWithQual("type(e) = 'nope'", Map("f" -> 1)).isEmpty)
  }

  test("range(): inverted bounds yield an empty list, not an error") {
    val s = chainSession(2)
    val r = s.cypher(
      "RETURN range(5, 1) AS a, range(1, 5) AS b, range(5, 1, -2) AS c")
      .collect().head
    assert(r.getString(0) == "[]")
    assert(r.getString(1) == "[1, 2, 3, 4, 5]")
    assert(r.getString(2) == "[5, 3, 1]")
    // data-dependent inverted bounds must not kill the job
    assert(s.cypher(
      """MATCH (x:v) RETURN size(range(1, x.n - 1)) AS k ORDER BY k"""
        .stripMargin).collect().map(_.getString(0)).toSeq == Seq("0", "0"))
  }

  test("split() renders parts as canonical jsonb strings (escaping)") {
    val s = chainSession(2)
    val r = s.cypher(
      """RETURN split('a"b,c\\d', ',') AS parts""").collect().head.getString(0)
    assert(r == """["a\"b", "c\\d"]""", r)
    // the result is valid jsonb: element access works
    assert(s.cypher(
      """RETURN split('a"b,c', ',')[0] AS h""")
      .collect().head.getString(0) == "\"a\\\"b\"")
  }

  test("renamed label keeps its constraints; index names are graph-unique") {
    val root = Files.createTempDirectory("graft_pfguard_ddl").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("g")
    s.createVLabel("a"); s.createVLabel("b2")
    s.cypher("CREATE (:a {k: 1})")
    s.catalog.createPropertyIndex("g", "a", Some("idx_k"), Seq("k"),
      unique = true)
    // same name on another label: PG index names are schema-scoped
    val dup = intercept[IllegalStateException] {
      s.catalog.createPropertyIndex("g", "b2", Some("idx_k"), Seq("k"),
        unique = false)
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    // rename, then the unique constraint must still fire on the new name
    s.catalog.renameLabel("g", "a", "a2")
    val e = intercept[Exception] { s.cypher("CREATE (:a2 {k: 1})") }
    assert(e.getMessage.toLowerCase.contains("unique") ||
      e.getMessage.toLowerCase.contains("constraint") ||
      e.getMessage.toLowerCase.contains("duplicate"), e.getMessage)
  }
}
