package graft.cypher

import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** A relationship alternation `[e:a|b]` denotes ONE label set: each
  * type's inheritance subtree (the type alone under ONLY), each table
  * once, scanned as one union aligned by column NAME. Every edge keeps
  * its own properties whatever labels share the scan: a shred sidecar
  * column of one label (`__pn_km`) never carries another label's
  * value, labels whose sidecars differ in type or number union
  * cleanly, and a label reached through two names (`[e:road|lane]`
  * with lane INHERITS road) is scanned once.
  *
  * Fixture: cities a, b, c, d and one edge per label —
  * road a->b {km: 5}, ferry b->c {w: 5}, rail a->c {gauge: 'std'},
  * tram c->d {km: 5, line: 'L1', stops: 3}, lane b->d {km: 5} with
  * lane INHERITS road.
  */
class LabelSetScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private lazy val s: CypherSession = {
    val root = java.nio.file.Files.createTempDirectory("graft_lset").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("g")
    s.createVLabel("city")
    Seq("road", "ferry", "rail", "tram").foreach(s.createELabel(_))
    s.createELabel("lane", parents = Seq("road"))
    s.cypher("CREATE (:city {name: 'a'}), (:city {name: 'b'}), " +
      "(:city {name: 'c'}), (:city {name: 'd'})")
    Seq("a" -> "b" -> "road {km: 5}", "b" -> "c" -> "ferry {w: 5}",
      "a" -> "c" -> "rail {gauge: 'std'}",
      "c" -> "d" -> "tram {km: 5, line: 'L1', stops: 3}",
      "b" -> "d" -> "lane {km: 5}").foreach { case ((x, y), e) =>
      s.cypher(s"MATCH (x:city {name: '$x'}), (y:city {name: '$y'}) " +
        s"CREATE (x)-[:$e]->(y)")
    }
    s
  }

  /** Result rows rendered `v1,v2,...` (jsonb text; SQL NULL as null), sorted. */
  private def rows(q: String): Seq[String] =
    s.cypher(q).collect().map(_.toSeq.map(String.valueOf).mkString(",")).sorted.toSeq

  private def props(pattern: String, where: String = ""): Seq[String] =
    rows(s"MATCH ()-[$pattern]->() $where RETURN type(e), e.km, e.w")

  test("road|ferry under WHERE e.km = 5: each edge with its own properties, both orders") {
    val want = Seq("\"lane\",5,null", "\"road\",5,null")
    assert(props("e:road|ferry", "WHERE e.km = 5") == want)
    assert(props("e:ferry|road", "WHERE e.km = 5") == want)
    assert(props("e:ferry|road", "WHERE e.w = 5") == Seq("\"ferry\",null,5"))
    val all = Seq("\"ferry\",null,5", "\"lane\",5,null", "\"road\",5,null")
    assert(props("e:road|ferry") == all)
    assert(props("e:ferry|road") == all)
  }

  test("road|ferry in the {km: 5} map form") {
    assert(props("e:road|ferry {km: 5}") == Seq("\"lane\",5,null", "\"road\",5,null"))
    assert(props("e:ferry|road {km: 5}") == Seq("\"lane\",5,null", "\"road\",5,null"))
    assert(props("e:road|ferry {w: 5}") == Seq("\"ferry\",null,5"))
  }

  test("road|ferry ONLY: the named tables alone, each edge with its own properties") {
    assert(props("e:road|ferry ONLY", "WHERE e.km = 5") == Seq("\"road\",5,null"))
    assert(props("e:ferry|road ONLY", "WHERE e.km = 5") == Seq("\"road\",5,null"))
    assert(props("e:ferry|road ONLY") == Seq("\"ferry\",null,5", "\"road\",5,null"))
  }

  test("rail|road: a string sidecar and a numeric one union by name") {
    assert(props("e:rail|road", "WHERE e.km = 5") == Seq("\"lane\",5,null", "\"road\",5,null"))
    assert(rows("MATCH ()-[e:rail|road]->() WHERE e.gauge = 'std' " +
      "RETURN type(e), e.gauge, e.km") == Seq("\"rail\",\"std\",null"))
  }

  test("road|tram: labels with different sidecar counts union by name") {
    assert(rows("MATCH ()-[e:road|tram]->() " +
      "RETURN type(e), e.km, e.line, e.stops") == Seq(
      "\"lane\",5,null,null", "\"road\",5,null,null", "\"tram\",5,\"L1\",3"))
    assert(rows("MATCH ()-[e:road|tram]->() WHERE e.line = 'L1' " +
      "RETURN type(e), e.km") == Seq("\"tram\",5"))
  }

  test("road|lane: a label reached through two names is scanned once") {
    val once = Seq("\"lane\"", "\"road\"")
    assert(rows("MATCH ()-[e:road|lane]->() RETURN type(e)") == once)
    assert(rows("MATCH ()-[e:lane|road]->() RETURN type(e)") == once)
    assert(rows("MATCH ()-[e:road|lane ONLY]->() RETURN type(e)") == once)
    assert(rows("MATCH ()-[e:road|road]->() RETURN type(e)") == once)
  }

  test("undirected alternation: each edge once per orientation, own properties") {
    assert(rows("MATCH (x)-[e:road|ferry]-(y) " +
      "RETURN type(e), x.name AS x, y.name AS y, e.km, e.w") ==
      Seq("\"ferry\",\"b\",\"c\",null,5", "\"ferry\",\"c\",\"b\",null,5",
        "\"lane\",\"b\",\"d\",5,null", "\"lane\",\"d\",\"b\",5,null",
        "\"road\",\"a\",\"b\",5,null", "\"road\",\"b\",\"a\",5,null"))
    assert(rows("MATCH (x)-[e:ferry|road]-(y) WHERE e.km = 5 RETURN type(e), x.name AS x") ==
      Seq("\"lane\",\"b\"", "\"lane\",\"d\"", "\"road\",\"a\"", "\"road\",\"b\""))
  }

  /** (source, target, hops) of every fixed-length path of 1..maxHops
    * hops whose hops each match one of `types`: the set union of the
    * single-type patterns over every sequence of types.
    */
  private def singleTypePaths(types: Seq[String], maxHops: Int): Seq[String] =
    (1 to maxHops).flatMap { n =>
      Seq.fill(n)(types).foldLeft(Seq(Seq.empty[String])) { (acc, ts) =>
        for (a <- acc; t <- ts) yield a :+ t
      }.flatMap { seq =>
        val hops = seq.zipWithIndex.map { case (t, i) => s"-[:$t]->(v$i)" }.mkString
        rows(s"MATCH (x)$hops RETURN x.name AS x, v${n - 1}.name AS y, $n")
      }
    }.distinct.sorted

  test("[:road|ferry*1..2] equals the union of the single-type paths") {
    val want = singleTypePaths(Seq("road", "ferry"), 2)
    assert(want == Seq("\"a\",\"b\",1", "\"a\",\"c\",2", "\"a\",\"d\",2",
      "\"b\",\"c\",1", "\"b\",\"d\",1"))
    assert(rows("MATCH (x)-[es:road|ferry*1..2]->(y) " +
      "RETURN x.name AS x, y.name AS y, length(es)") == want)
    assert(rows("MATCH (x)-[es:road|lane*1..2]->(y) " +
      "RETURN x.name AS x, y.name AS y, length(es)") == singleTypePaths(Seq("road", "lane"), 2))
  }

  test("shortestpath over an alternation: the shortest of the single-type paths") {
    val want = singleTypePaths(Seq("road", "ferry", "tram"), 3)
      .filter(_.startsWith("\"a\","))
      .groupBy(r => r.split(",")(1)).map { case (y, rs) =>
        s"$y,${rs.map(_.split(",")(2).toInt).min}" }.toSeq.sorted
    assert(want == Seq("\"b\",1", "\"c\",2", "\"d\",2"))
    assert(rows("MATCH p = shortestpath((x:city {name: 'a'})-[:road|ferry|tram*]->(y:city)) " +
      "RETURN y.name AS y, length(p)") == want)
  }

  test("unknown and wrong-kind labels raise the scan diagnostics") {
    def err(q: String): String =
      intercept[IllegalArgumentException](s.cypher(q).collect()).getMessage
    assert(err("MATCH ()-[e:road|nope]->() RETURN e") == "label \"nope\" does not exist")
    assert(err("MATCH ()-[e:road|city]->() RETURN e") == "label \"city\" is vertex label")
    assert(err("MATCH (x:road) RETURN x") == "label \"road\" is edge label")
    assert(err("MATCH (x:nope) RETURN x") == "label \"nope\" does not exist")
    // the re-bound filter form resolves the same set, with the same messages
    assert(err("MATCH (x) WITH x MATCH (x:road) RETURN x") == "label \"road\" is edge label")
    assert(err("MATCH (x) WITH x MATCH (x:nope ONLY) RETURN x") ==
      "label \"nope\" does not exist")
  }
}
