package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Regressions from the round-10 write-path review: MERGE with fresh
  * endpoints on a relationship pattern (the created/matched var
  * interleaving differs per kind), CREATE path-variable contents for
  * reused and anonymous vertices, and jsonb NUMERIC identity (1 ≡ 1.0)
  * for unique constraints and MERGE prop-map keys.
  */
class WriteOpsRegressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fresh(): CypherSession = {
    val root = Files.createTempDirectory("graft_wops").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("g"); s.createVLabel("l"); s.createVLabel("m")
    s.createELabel("t"); s.createELabel("t2"); s
  }

  test("MERGE creates a relationship with BOTH endpoints fresh") {
    val s = fresh()
    // create() binds (a, b, edge); buildMatch binds (a, edge, b) — the
    // per-kind pairing must align them, not throw the misalignment error
    val r = s.cypher(
      "MERGE (a:l {x: 1})-[:t]->(b:m {y: 2}) RETURN a.x AS ax, b.y AS by")
      .collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "1" && r.head.getString(1) == "2")
    // merging again matches — no second instance
    s.cypher("MERGE (a:l {x: 1})-[:t]->(b:m {y: 2})")
    assert(s.cypher("MATCH (:l)-[e:t]->(:m) RETURN count(*) AS c")
      .collect().head.getString(0) == "1")
  }

  test("CREATE path over matched vertices carries ONLY the new edge") {
    val s = fresh()
    s.cypher("CREATE (:l {n: 1})-[:t]->(:m {n: 2})")
    val r = s.cypher(
      """MATCH (a:l)-[e:t]->(b:m) CREATE p = (a)-[:t2]->(b)
        |RETURN size(relationships(p)) AS ne, size(nodes(p)) AS nv"""
        .stripMargin).collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("1", "2")))
  }

  test("CREATE path with equal anonymous nodes keeps both distinct") {
    val s = fresh()
    // two structurally-equal anonymous NodePatterns: positional lookup
    // (indexOf) collapsed both to the first created vertex
    val r = s.cypher(
      "CREATE p = (:l)-[:t]->(:l) RETURN nodes(p)[0] = nodes(p)[1] AS same")
      .collect()
    assert(r.map(_.get(0).toString).toSeq == Seq("false"))
  }

  test("unique constraint: 1 and 1.0 are ONE key (jsonb numeric equality)") {
    val s = fresh()
    s.catalog.createPropertyIndex("g", "l", Some("uq_id"), Seq("id"),
      unique = true)
    s.cypher("CREATE (:l {id: 1})")
    val e = intercept[IllegalStateException] { s.cypher("CREATE (:l {id: 1.0})") }
    assert(e.getMessage.contains("unique"), e.getMessage)
    // within one batch too
    val e2 = intercept[IllegalStateException] {
      s.cypher("UNWIND [2, 2.0] AS v CREATE (:l {id: v})")
    }
    assert(e2.getMessage.contains("unique"), e2.getMessage)
  }

  test("MERGE batch: {x: 1} and {x: 1.0} are ONE identity") {
    val s = fresh()
    s.cypher("UNWIND [1, 1.0] AS v MERGE (n:l {x: v})")
    assert(s.cypher("MATCH (n:l) RETURN count(*) AS c")
      .collect().head.getString(0) == "1")
  }

  // ---- MERGE ON CREATE / ON MATCH routing: which arm reaches which row

  private def props(s: CypherSession, label: String, order: String): Seq[String] =
    s.cypher(s"MATCH (x:$label) RETURN properties(x) AS p ORDER BY $order")
      .collect().toSeq.map(_.getString(0))

  test("MERGE routing: input rows sharing an identity key create once, ON CREATE only") {
    val s = fresh()
    s.cypher("UNWIND [1, 1] AS k MERGE (x:l {n: k}) ON CREATE SET x.c = 1 ON MATCH SET x.h = true")
    assert(s.lastWriteStats("insertedvertices") == 1)
    assert(s.lastWriteStats("updatedproperties") == 1)
    assert(props(s, "l", "x.n") == Seq("""{"c": 1, "n": 1}"""))
    // a second batch: key 1 matches (both rows, ON MATCH only), key 2
    // is created once from its two rows (ON CREATE only)
    val r = s.cypher(
      """UNWIND [1, 2, 2, 1] AS k MERGE (x:l {n: k})
        |ON CREATE SET x.c = 2 ON MATCH SET x.h = true
        |RETURN x.n AS n, x.c AS c, x.h AS h ORDER BY n""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(r == Seq(("1", "1", "true"), ("1", "1", "true"),
      ("2", "2", null), ("2", "2", null)))
    assert(s.lastWriteStats("insertedvertices") == 1)
    assert(s.lastWriteStats("updatedproperties") == 2)
    assert(props(s, "l", "x.n") == Seq(
      """{"c": 1, "h": true, "n": 1}""", """{"c": 2, "n": 2}"""))
  }

  test("MERGE routing: ON CREATE SET reading a non-key input property takes the SET winner") {
    // two input rows per key: with multiple updates on the row with the
    // highest input element id wins (last write), off the lowest (first)
    for ((multi, want) <- Seq(("true", Seq("3", "4")), ("false", Seq("1", "2")))) {
      val s = fresh()
      s.cypher("CREATE (:m {g: 0, no: 1}), (:m {g: 1, no: 2}), (:m {g: 0, no: 3}), (:m {g: 1, no: 4})")
      spark.conf.set("spark.graft.enableMultipleUpdate", multi)
      try s.cypher("MATCH (a:m) MERGE (x:l {g: a.g}) ON CREATE SET x.from = a.no")
      finally spark.conf.set("spark.graft.enableMultipleUpdate", "true")
      assert(s.lastWriteStats("insertedvertices") == 2)
      assert(s.lastWriteStats("updatedproperties") == 2)
      val got = s.cypher("MATCH (x:l) RETURN x.from AS f ORDER BY x.g")
        .collect().toSeq.map(_.getString(0))
      assert(got == want, s"enableMultipleUpdate=$multi")
    }
  }

  test("MERGE routing: ON CREATE SET on the pre-bound endpoint of an edge MERGE") {
    val s = fresh()
    s.cypher("CREATE (:l {x: 1})-[:t]->(:m {y: 1})")
    s.cypher("CREATE (:l {x: 2})")
    // (l1, m1) matches the existing edge; (l2, m1) creates one. ON
    // CREATE reaches only the created row's a, ON MATCH only the
    // matched row's b, and both rows observe the update of the shared b
    val r = s.cypher(
      """MATCH (a:l), (b:m) MERGE (a)-[:t]->(b)
        |ON CREATE SET a.linked = true ON MATCH SET b.again = true
        |RETURN a.x AS x, a.linked AS linked, b.again AS again ORDER BY x""".stripMargin)
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(r == Seq(("1", null, "true"), ("2", "true", "true")))
    assert(s.lastWriteStats("insertededges") == 1)
    assert(s.lastWriteStats("updatedproperties") == 2)
    assert(props(s, "l", "x.x") == Seq("""{"x": 1}""", """{"x": 2, "linked": true}"""))
    assert(props(s, "m", "x.y") == Seq("""{"y": 1, "again": true}"""))
  }

  test("MERGE routing: a CHECK constraint sees the properties ON CREATE SET leaves") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_chk", "check", "c IS NULL AND n > 0")
    // the pattern map passes the check, the ON CREATE SET result does
    // not: nothing is written
    val e = intercept[IllegalStateException] {
      s.cypher("UNWIND [1, 2] AS k MERGE (x:l {n: k}) ON CREATE SET x.c = k")
    }
    assert(e.getMessage.contains("l_chk"), e.getMessage)
    assert(props(s, "l", "x.n").isEmpty)
    // the created element is written once, with the map ON CREATE SET
    // leaves, and that map passes
    s.cypher("MERGE (x:l {n: -1}) ON CREATE SET x.n = 5")
    assert(props(s, "l", "x.n") == Seq("""{"n": 5}"""))
    // an item on a pre-bound element routes ON CREATE SET through SET
    // over the created rows, which checks the created element's new map
    s.cypher("CREATE (:m {k: 0})")
    val e2 = intercept[IllegalStateException] {
      s.cypher("MATCH (a:m) MERGE (a)-[:t]->(x:l {n: 7}) ON CREATE SET a.k = 1, x.c = 1")
    }
    assert(e2.getMessage.contains("l_chk"), e2.getMessage)
  }

  // ---- SET checks the constraints of the labels it writes

  test("SET: a value a CHECK constraint forbids fails and leaves the label unchanged") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_age", "check", "age > 0")
    s.cypher("CREATE (:l {age: 5})")
    val e = intercept[IllegalStateException] { s.cypher("MATCH (n:l) SET n.age = -1") }
    assert(e.getMessage.contains("""violates check constraint "l_age""""), e.getMessage)
    assert(props(s, "l", "x.age") == Seq("""{"age": 5}"""))
  }

  test("SET: a duplicate UNIQUE key fails and leaves the label unchanged") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_k", "unique", "k")
    s.cypher("CREATE (:l {k: 1}), (:l {k: 2})")
    val e = intercept[IllegalStateException] {
      s.cypher("MATCH (n:l) WHERE n.k = 2 SET n.k = 1")
    }
    assert(e.getMessage.contains("""duplicate key value violates unique constraint "l_k""""),
      e.getMessage)
    // two updated elements taking one key collide with each other
    val e2 = intercept[IllegalStateException] { s.cypher("MATCH (n:l) SET n.k = 3") }
    assert(e2.getMessage.contains("unique"), e2.getMessage)
    assert(props(s, "l", "x.k") == Seq("""{"k": 1}""", """{"k": 2}"""))
  }

  test("SET: an update that keeps its UNIQUE key succeeds") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_k", "unique", "k")
    s.cypher("CREATE (:l {k: 1}), (:l {k: 2})")
    // the key is written again unchanged: no collision with its own old row
    s.cypher("MATCH (n:l) WHERE n.k = 1 SET n.k = 1, n.x = 3")
    // keys change places with no duplicate among the new maps
    s.cypher("MATCH (n:l) SET n.k = 3 - n.k")
    assert(props(s, "l", "x.k") == Seq("""{"k": 1}""", """{"k": 2, "x": 3}"""))
  }

  test("SET: a later variable's violation fails the statement before any variable is patched") {
    val s = fresh()
    s.cypher("CREATE (:m {k: 5})-[:t]->(:l {n: 1})")
    s.catalog.addConstraint("g", "l", "l_chk", "check", "c IS NULL")
    val e = intercept[IllegalStateException] {
      s.cypher("MATCH (a:m {k: 5})-[:t]->(x:l) SET a.k = 6, x.c = 1")
    }
    assert(e.getMessage.contains("l_chk"), e.getMessage)
    assert(props(s, "m", "x.k") == Seq("""{"k": 5}"""))
    assert(props(s, "l", "x.n") == Seq("""{"n": 1}"""))
  }

  test("SET: two variables swapping a UNIQUE key succeed") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_k", "unique", "k")
    s.cypher("CREATE (:l {k: 1, n: 1}), (:l {k: 2, n: 2})")
    s.cypher("MATCH (a:l {k: 1}), (b:l {k: 2}) SET a.k = 2, b.k = 1")
    assert(props(s, "l", "x.n") == Seq("""{"k": 2, "n": 1}""", """{"k": 1, "n": 2}"""))
  }

  test("SET: two aliases of one element on a UNIQUE label do not collide with themselves") {
    val s = fresh()
    s.catalog.addConstraint("g", "l", "l_k", "unique", "k")
    s.cypher("CREATE (:l {k: 1}), (:l {k: 2})")
    // b is a, so b's map carries the k a just set: one element, one key
    s.cypher("MATCH (a:l {k: 1}), (b:l {k: 1}) SET a.k = 5, b.x = 1")
    assert(props(s, "l", "x.k") == Seq("""{"k": 2}""", """{"k": 5, "x": 1}"""))
  }

  test("MERGE routing: ON CREATE SET items read across a pre-bound and a created element in written order") {
    // the items apply in the order they are written, each reading the
    // elements as the earlier items left them: b.x reads the a.y just
    // set, a.y reads b.x before it is set
    for ((items, want) <- Seq(
        ("a.y = 1, b.x = a.y", ("1", "1")),
        ("a.y = b.x, b.x = 1", (null, "1")))) {
      val s = fresh()
      s.cypher("CREATE (:l {n: 1})")
      val r = s.cypher(
        s"""MATCH (a:l) MERGE (a)-[:t]->(b:m {k: 1}) ON CREATE SET $items
           |RETURN a.y AS y, b.x AS x""".stripMargin)
        .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      assert(r == Seq(want), items)
      assert(s.lastWriteStats("insertedvertices") == 1, items)
      assert(s.lastWriteStats("insertededges") == 1, items)
      assert(s.lastWriteStats("updatedproperties") == 2, items)
      val stored = s.cypher("MATCH (a:l)-[:t]->(b:m) RETURN a.y AS y, b.x AS x")
        .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      assert(stored == Seq(want), items)
    }
  }

  test("MERGE routing: ON CREATE SET on a created variable whose name holds a dot") {
    val s = fresh()
    s.cypher("MERGE (`x.y`:l {n: 1}) ON CREATE SET `x.y`.c = 1")
    assert(s.lastWriteStats("insertedvertices") == 1)
    assert(s.lastWriteStats("updatedproperties") == 1)
    assert(props(s, "l", "x.n") == Seq("""{"c": 1, "n": 1}"""))
  }
}
