package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Cross-validates the shortest-path search (the one-sided BFS from the
  * bound sources with visited-set pruning) against the VLE operator on
  * random graphs: both enumerate the same simple-edge path universe, so
  * per-pair minimal lengths and the number of minimal paths must agree
  * exactly.
  */
class PathFinderCrossCheckSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def buildRandomGraph(seed: Int, n: Int, nEdges: Int): CypherSession = {
    val root = Files.createTempDirectory(s"graft_xcheck_$seed").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph(s"x$seed")
    s.createVLabel("v")
    s.createELabel("e")
    (0 until n).foreach(i => s.cypher(s"CREATE (:v {n: $i})"))
    val rnd = new java.util.Random(seed)
    val edges = (0 until nEdges).map { _ =>
      (rnd.nextInt(n), rnd.nextInt(n))
    }.distinct.filter { case (a, bb) => a != bb }
    edges.foreach { case (a, bb) =>
      s.cypher(s"MATCH (x:v {n: $a}), (y:v {n: $bb}) CREATE (x)-[:e]->(y)")
    }
    s
  }

  private def vleMinPaths(s: CypherSession): Map[(String, String), (Long, Long)] = {
    // all simple-edge paths up to length 4 via the VLE operator, then
    // min length + count of minimal paths per (src, dst) — driver-side
    // reduction over the tiny test graph
    val df = s.cypher(
      """MATCH (a:v)-[es:e*1..4]->(b:v)
        |RETURN a.n AS s, b.n AS t, length(es) AS len""".stripMargin)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2).toLong))
    rows.groupBy(r => (r._1, r._2)).map { case (k, vs) =>
      val minLen = vs.map(_._3).min
      k -> (minLen, vs.count(_._3 == minLen).toLong)
    }
  }

  for (seed <- Seq(11, 23, 47))
    test(s"onesided shortestpath/allshortestpaths agree with VLE minima (seed $seed)") {
      runCase(seed)
    }

  test("self-loop shortest path: origin == target, length 1 (both modes) — r12 review") {
    // buildRandomGraph filters self-loops out, so this shape is not
    // cross-checked there: a search that pre-marks the origin visited
    // loses the length-1 self-loop
    val root = Files.createTempDirectory("graft_selfloop").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("sl")
    s.createVLabel("v")
    s.createELabel("e")
    s.cypher("CREATE (:v {n: 0}), (:v {n: 1})")
    s.cypher("MATCH (x:v {n: 0}) CREATE (x)-[:e]->(x)") // self-loop
    // a 2-cycle through n=1 — the WRONG answer if the loop is lost
    s.cypher("MATCH (x:v {n: 0}), (y:v {n: 1}) CREATE (x)-[:e]->(y), (y)-[:e]->(x)")
    val out = s.cypher(
      """MATCH p = shortestpath((a:v {n: 0})-[:e*1..4]->(b:v {n: 0}))
        |RETURN length(p) AS l""".stripMargin).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("1"), out.mkString(","))
  }

  private def runCase(seed: Int): Unit = {
      val s = buildRandomGraph(seed, n = 10, nEdges = 26)
      val expect = vleMinPaths(s)

      val sp = s.cypher(
        """MATCH p = shortestpath((a:v)-[:e*1..4]->(b:v))
          |RETURN a.n AS s, b.n AS t, length(p) AS len""".stripMargin)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getString(2).toLong))
      // one row per reachable pair, at the minimal length
      assert(sp.map(_._1).toSet == expect.keySet, "pair sets differ")
      sp.foreach { case (k, len) =>
        assert(len == expect(k)._1, s"pair $k: got $len want ${expect(k)._1}")
      }
      assert(sp.length == expect.size, "duplicate pairs in shortestpath output")

      val asp = s.cypher(
        """MATCH p = allshortestpaths((a:v)-[:e*1..4]->(b:v))
          |RETURN a.n AS s, b.n AS t, length(p) AS len""".stripMargin)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getString(2).toLong))
      val aspCounts = asp.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      assert(aspCounts.keySet == expect.keySet)
      aspCounts.foreach { case (k, cnt) =>
        assert(cnt == expect(k)._2,
          s"pair $k: got $cnt minimal paths, want ${expect(k)._2}")
        asp.filter(_._1 == k).foreach { case (_, len) =>
          assert(len == expect(k)._1)
        }
      }
  }
}
