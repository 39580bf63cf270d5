package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Interaction matrix over the engine's plan toggles: keyed
  * correlation, the count-only pair rewrite and graphmeta-driven hop
  * planning (endpoint filters, broadcast hints, chain reorder) are each
  * independently differential-tested against their fallbacks — this
  * spec asserts the TOGGLE COMBINATIONS also agree, on a query corpus
  * that exercises several toggles at once (a pair-count pattern whose
  * residual runs through the correlation machinery, path finders
  * beside exists() filters).
  * Any combination-dependent divergence is a semantics bug by
  * definition: every toggle is an optimization.
  */
class PlanToggleMatrixSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def buildGraph(): CypherSession = {
    val root = Files.createTempDirectory("graft_toggle").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("tg")
    s.createVLabel("v"); s.createELabel("t"); s.createELabel("u")
    val rnd = new java.util.Random(12021)
    (0 until 12).foreach(i =>
      s.cypher(s"CREATE (:v {n: $i, grp: ${i % 3}})"))
    for (_ <- 0 until 28) {
      val a = rnd.nextInt(12); val b = rnd.nextInt(12)
      if (a != b) {
        val tp = if (rnd.nextInt(3) == 0) "u" else "t"
        s.cypher(s"MATCH (x:v {n: $a}), (y:v {n: $b}) " +
          s"CREATE (x)-[:$tp {w: ${rnd.nextInt(9) + 1}}]->(y)")
      }
    }
    s
  }

  private val queries = Seq(
    // pair-count rewrite + exists() residual through keyed correlation
    """MATCH (a:v)-[:t]->(m:v)<-[:t]-(b:v)
      |WHERE id(a) < id(b) AND NOT exists((a)-[:u]->())
      |RETURN m.n AS mn, count(*) AS c""".stripMargin,
    // OPTIONAL MATCH + size() beside each other
    """MATCH (a:v {grp: 0}) OPTIONAL MATCH (a)-[e:t]->(b:v)
      |RETURN a.n AS an, b.n AS bn, size((a)-[:u]->()) AS su""".stripMargin,
    // shortestpath between selective endpoint sets
    """MATCH p = shortestpath((a:v {grp: 0})-[:t *..5]->(b:v {grp: 2}))
      |RETURN a.n AS an, b.n AS bn, length(p) AS l""".stripMargin,
    // dijkstra with an exists()-filtered origin set
    """MATCH (a:v) WHERE exists((a)-[:t]->())
      |WITH collect(a.n) AS ns
      |MATCH p = dijkstra((x:v {grp: 1})-[e:t]->(y:v {grp: 2}), e.w)
      |RETURN x.n AS xn, y.n AS yn, length(p) AS l, size(ns) AS k""".stripMargin,
    // mixed-type chain: graphmeta hop filters/broadcast + chain reorder
    """MATCH (a:v)-[:t]->(m:v)-[:u]->(b:v)
      |RETURN a.n AS an, m.n AS mn, b.n AS bn""".stripMargin)

  private def rows(s: CypherSession, q: String): Seq[String] =
    s.cypher(q).collect().toSeq
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "∅" else r.get(i).toString).mkString("|"))
      .sorted

  test("toggle combinations agree with the all-on baseline") {
    val s = buildGraph()
    val toggles = Seq(
      "spark.graft.keyedCorrelation" -> "false",
      "spark.graft.pairCountRewrite" -> "false",
      "spark.graft.graphmetaPlanning" -> "false")
    def setAll(off: Set[Int]): Unit = toggles.zipWithIndex.foreach {
      case ((k, offV), i) => spark.conf.set(k, if (off(i)) offV else "true")
    }
    try {
      setAll(Set.empty)
      val baseline = queries.map(rows(s, _))
      val combos = Seq(Set(0), Set(1), Set(2), Set(0, 1), Set(0, 2), Set(1, 2),
        Set(0, 1, 2))
      for (combo <- combos) {
        setAll(combo)
        queries.zip(baseline).foreach { case (q, want) =>
          assert(rows(s, q) == want, s"combo=$combo query=$q")
        }
      }
    } finally {
      toggles.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
