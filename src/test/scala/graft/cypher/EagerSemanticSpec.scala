package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Clause-visibility matrix ported from the reference's
  * cypher_eager.sql/.out (FIXTURES.md F3): every write-op pair, with
  * the expected relations from the eager (enable_eager=true) plans —
  * our engine applies writes at clause boundaries, which IS the eager
  * semantics by construction.
  */
class EagerSemanticSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fresh(): CypherSession = {
    val root = Files.createTempDirectory("graft_eager").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("eager_graph")
    s.createVLabel("v1")
    s.createVLabel("v2")
    s.createVLabel("v3", parents = Seq("v2"))
    s.createVLabel("v4")
    s.createELabel("e1")
    s.cypher("CREATE (:v1 {no: 1}), (:v1 {no: 2}), (:v1 {no: 3})")
    s
  }

  private def labelsAndNos(s: CypherSession, m: String = "v2"): Seq[(String, String)] =
    s.cypher(s"MATCH (a:$m) RETURN label(a) AS label, a.no AS no ORDER BY label, no")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  test("CREATE - CREATE: later clause uses earlier clause's bindings") {
    val s = fresh()
    s.cypher(
      """MATCH (a:v1)
        |CREATE (b:v3 {no: a.no})
        |CREATE (c:v2 {no: a.no + 2})""".stripMargin)
    assert(labelsAndNos(s) == Seq(
      "\"v2\"" -> "3", "\"v2\"" -> "4", "\"v2\"" -> "5",
      "\"v3\"" -> "1", "\"v3\"" -> "2", "\"v3\"" -> "3"))
  }

  test("CREATE - MERGE: merge sees vertices created in this statement") {
    val s = fresh()
    s.cypher(
      """MATCH (a:v1)
        |CREATE (b:v3 {no: a.no})
        |MERGE (c:v2 {no: a.no + 2})""".stripMargin)
    // v3 {3} satisfies the merge for a.no=1 -> only {4} and {5} created
    assert(labelsAndNos(s) == Seq(
      "\"v2\"" -> "4", "\"v2\"" -> "5",
      "\"v3\"" -> "1", "\"v3\"" -> "2", "\"v3\"" -> "3"))
  }

  test("CREATE - SET: copy created before update keeps old values") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v2 =properties(a))")
    s.cypher(
      """MATCH (a:v2)
        |CREATE (:v3 =properties(a))
        |SET a.no = a.no + 1""".stripMargin)
    assert(labelsAndNos(s) == Seq(
      "\"v2\"" -> "2", "\"v2\"" -> "3", "\"v2\"" -> "4",
      "\"v3\"" -> "1", "\"v3\"" -> "2", "\"v3\"" -> "3"))
  }

  test("CREATE - DELETE: copies survive deleting the originals") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v2 =properties(a))")
    s.cypher(
      """MATCH (a:v2)
        |CREATE (:v3 =properties(a))
        |DELETE a""".stripMargin)
    assert(labelsAndNos(s) == Seq(
      "\"v3\"" -> "1", "\"v3\"" -> "2", "\"v3\"" -> "3"))
  }

  test("MERGE - MERGE chain") {
    val s = fresh()
    s.cypher(
      """MATCH (a:v1)
        |MERGE (b:v3 {no: a.no})
        |MERGE (c:v2 {no: a.no + 2})""".stripMargin)
    assert(labelsAndNos(s) == Seq(
      "\"v2\"" -> "4", "\"v2\"" -> "5",
      "\"v3\"" -> "1", "\"v3\"" -> "2", "\"v3\"" -> "3"))
  }

  test("MERGE - SET: created-by-merge rows not updated by SET on match var") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v3 =properties(a))")
    s.cypher(
      """MATCH (a:v2)
        |MERGE (b:v3 {no: a.no + 2})
        |SET a.no = a.no + 3""".stripMargin)
    assert(labelsAndNos(s).map(_._2) == Seq("4", "4", "5", "5", "6"))
  }

  test("MERGE ON CREATE/ON MATCH with aliased second merge") {
    val s = fresh()
    s.cypher(
      """MATCH (a:v1)
        |MERGE (b:v2 {no: a.no}) ON MATCH SET b.matched = true
        |  ON CREATE SET b.created = true
        |MERGE (c:v2 {no: 4 - a.no})""".stripMargin)
    val props = s.cypher(
      "MATCH (b:v2) RETURN properties(b) AS p ORDER BY b.no").collect()
      .map(_.getString(0)).toSeq
    assert(props == Seq(
      """{"no": 1, "created": true}""",
      """{"no": 2, "created": true}""",
      """{"no": 3, "created": true}"""))
    // second statement: all match now; created key removed via NULL set
    s.cypher(
      """MATCH (a:v1)
        |MERGE (b:v2 {no: a.no})
        |  ON MATCH SET b.matched = true, b.created = NULL
        |  ON CREATE SET b.created = true
        |MERGE (c:v2 {no: 4 - a.no})""".stripMargin)
    val props2 = s.cypher(
      "MATCH (b:v2) RETURN properties(b) AS p ORDER BY b.no").collect()
      .map(_.getString(0)).toSeq
    assert(props2 == Seq(
      """{"no": 1, "matched": true}""",
      """{"no": 2, "matched": true}""",
      """{"no": 3, "matched": true}"""))
  }

  test("MERGE - SET - MERGE: row-sequential self-referential ON SET") {
    // cypher_eager.out: each row observes the previous row's counter
    val s = fresh()
    val out = s.cypher(
      """MATCH (:v1)
        |MERGE (a:v2 {no: 1})
        |  ON MATCH SET a.cnt = a.cnt + 1
        |  ON CREATE SET a.cnt = 0
        |MERGE (b:v2 {cnt: 2})
        |RETURN a = b AS eq""".stripMargin)
    assert(out.collect().map(_.getBoolean(0)).toSeq == Seq(true, true, true))
  }

  test("MERGE - SET: merged var read inside a list or comprehension is row-sequential") {
    // each row's ON MATCH SET must observe the previous row's update,
    // whatever expression shape the read of `a` sits in
    val s = fresh()
    s.cypher("CREATE (:v2 {no: 1, cnt: 0, tags: []})")
    s.cypher("MATCH (:v1) MERGE (a:v2 {no: 1}) ON MATCH SET a.cnt = [a.cnt + 1][0]")
    s.cypher("MATCH (:v1) MERGE (a:v2 {no: 1}) ON MATCH SET a.tags = [t IN a.tags + ['x'] | t]")
    val out = s.cypher("MATCH (a:v2) RETURN a.cnt AS cnt, a.tags AS tags").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq("3" -> """["x", "x", "x"]"""))
  }

  test("MERGE - DELETE: deleted vertices invisible to later scans") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v2 =properties(a))")
    s.cypher(
      """MATCH (a:v2)
        |MERGE (b:v2 {no: a.no - 1})
        |DELETE a""".stripMargin)
    val out = s.cypher("MATCH (a:v2) RETURN a.no AS no ORDER BY no").collect()
      .map(_.getString(0)).toSeq
    assert(out == Seq("0"))
  }

  test("SET - CREATE: set applies before create count multiplies") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v3 =properties(a))")
    s.cypher(
      """MATCH (a:v3)
        |SET a.no = a.no - 2
        |CREATE (b:v2 {no: 1})""".stripMargin)
    assert(labelsAndNos(s) == Seq(
      "\"v2\"" -> "1", "\"v2\"" -> "1", "\"v2\"" -> "1",
      "\"v3\"" -> "-1", "\"v3\"" -> "0", "\"v3\"" -> "1"))
  }

  test("SET - SET: aliases of one element observe earlier updates") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v3 =properties(a))")
    s.cypher("MATCH (a:v1) CREATE (:v4 {no: a.no + 3})")
    s.cypher(
      """MATCH (a:v2), (b:v3), (c:v4)
        |SET a.no = a.no - 2
        |SET c.no = b.no""".stripMargin)
    assert(labelsAndNos(s).map(_._2).sorted == Seq("-1", "0", "1"))
    // the second SET reads b.no AFTER the first SET (alias visibility);
    // last-write-wins picks one deterministic binding (PG's analogous
    // result depends on its physical heap order — implementation-defined)
    val v4 = labelsAndNos(s, "v4").map(_._2)
    assert(v4.distinct.size == 1 && Set("-1", "0", "1").contains(v4.head))
  }

  test("SET - DELETE") {
    val s = fresh()
    s.cypher("MATCH (a:v1) CREATE (:v3 =properties(a))")
    s.cypher(
      """MATCH (a:v2), (b:v3)
        |SET a.no = a.no - 2
        |DELETE b""".stripMargin)
    assert(s.cypher("MATCH (a:v2) RETURN a.no AS no").count() == 0)
  }

  // ------------------------------- enable_eager off-mode diagnostics
  // (guc.c:1165-1172; cypher_eager.out SET enable_eager = false rows).
  // The engine stays eager by construction — the knob models the
  // reference's rejection of plans that REQUIRE eagerness.
  test("enable_eager=off: off-matrix accepts and rejections (cypher_eager.out)") {
    val s = fresh()
    spark.conf.set("spark.graft.enableEager", "false")
    try {
      def rejected(q: String): Unit = {
        val m = intercept[Exception](s.cypher(q)).getMessage
        assert(m.contains("eagerness plan is not allowed."), q)
      }
      // CREATE - CREATE runs (cypher_eager.out:19-24)
      s.cypher(
        """MATCH (a:v1)
          |CREATE (b:v3 {no: a.no})
          |CREATE (c:v2 {no: a.no + 2})""".stripMargin)
      assert(labelsAndNos(s).size == 6)
      s.cypher("MATCH (a:v2) DETACH DELETE a")
      // final lone SET / DELETE / MERGE still run
      s.cypher("MATCH (a:v1) CREATE (:v2 =properties(a))")
      s.cypher("MATCH (a:v2) SET a.no = a.no + 1")
      s.cypher("MERGE (m:v4 {no: 9})")
      s.cypher("MATCH (a:v2) DELETE a")
      s.cypher("MATCH (a:v4) DELETE a")
      // CREATE - MERGE rejected (cypher_eager.out:35-40)
      rejected(
        """MATCH (a:v1)
          |CREATE (b:v3 {no: a.no})
          |MERGE (c:v2 {no: a.no + 2})""".stripMargin)
      // MERGE - MERGE rejected (cypher_eager.out:106-111)
      rejected(
        """MATCH (a:v1)
          |MERGE (b:v3 {no: a.no})
          |MERGE (c:v2 {no: a.no + 2})""".stripMargin)
      // SET - CREATE / SET - MERGE / SET - SET rejected (non-final SET)
      rejected(
        """MATCH (a:v1)
          |SET a.no = a.no - 2
          |CREATE (:v3 {no: a.no + 3})""".stripMargin)
      rejected(
        """MATCH (a:v1)
          |SET a.no = a.no - 2
          |MERGE (b:v2 {no: 1})""".stripMargin)
      rejected(
        """MATCH (a:v1)
          |SET a.no = a.no - 2
          |SET a.no = a.no + 2""".stripMargin)
      // non-final DELETE rejected; SET followed by RETURN rejected
      // (read-your-write needs the eager boundary)
      rejected("MATCH (a:v1) DELETE a CREATE (:v2 {no: 1})")
      rejected("MATCH (a:v1) SET a.no = 0 RETURN a.no AS no")
    } finally spark.conf.set("spark.graft.enableEager", "true")
  }

  test("enable_multiple_update=off: first update wins, repeated SET warned") {
    val s = fresh() // v1 nos 1,2,3
    s.createVLabel("mu")
    s.cypher("CREATE (:mu {x: 0})")
    // every v1 row updates THE one mu element: on = last-write-wins
    // (max __setord = highest b id ⇒ no 3), off = first (execCypherSet
    // .c:316-324 HASH_FIND skip ⇒ no 1)
    s.cypher("MATCH (m:mu), (b:v1) SET m.x = b.no")
    assert(s.cypher("MATCH (m:mu) RETURN m.x AS x").collect()
      .head.getString(0) == "3")
    spark.conf.set("spark.graft.enableMultipleUpdate", "false")
    try {
      s.cypher("MATCH (m:mu), (b:v1) SET m.x = b.no")
      assert(s.cypher("MATCH (m:mu) RETURN m.x AS x").collect()
        .head.getString(0) == "1")
    } finally spark.conf.set("spark.graft.enableMultipleUpdate", "true")
  }
}
