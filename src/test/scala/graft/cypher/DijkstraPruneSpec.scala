package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.scalatest.funsuite.AnyFunSuite

/** Target-side termination of the weighted search (the set-based form
  * of the reference's pairing-heap early exit, nodeDijkstra.c:37-50):
  * once every (origin, target) k-set is full, frontier paths costlier
  * than the origin's worst settled target distance are pruned, so a
  * selective target pair on a deep graph stops at the target's depth
  * instead of exploring everything reachable. Checked against
  * driver-side references on random weighted multigraphs: Dijkstra on
  * (distance, length) for k = 1, and a bounded count of trails (paths
  * with no repeated edge) for k = 2. The prune is only sound for
  * non-negative weights, so a negative one must fail the query.
  */
class DijkstraPruneSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def rows(s: CypherSession, q: String): Seq[String] =
    s.cypher(q).collect().toSeq
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "∅" else r.get(i).toString).mkString("|"))
      .sorted

  private def lastRounds: Int =
    Algo.lastDijkstraRoundCount.getOrElse(fail("no dijkstra ran on this thread"))

  private def chainSession(n: Int, weight: Int => Int): CypherSession = {
    val root = Files.createTempDirectory("graft_dij_chain").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("chain")
    s.createVLabel("v"); s.createELabel("e")
    (0 until n).foreach(i => s.cypher(s"CREATE (:v {n: $i})"))
    (0 until n - 1).foreach { i =>
      s.cypher(s"MATCH (x:v {n: $i}), (y:v {n: ${i + 1}}) " +
        s"CREATE (x)-[:e {w: ${weight(i)}}]->(y)")
    }
    s
  }

  test("deep chain: loop exits at target depth, not graph diameter") {
    val s = chainSession(30, _ => 1)
    val q =
      """MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 3}), e.w)
        |RETURN length(p) AS len""".stripMargin
    assert(rows(s, q) == Seq("3"))
    // target sits 3 hops in; the chain continues for 26 more — the
    // pruned loop must exit within target depth + 1
    assert(lastRounds <= 4, s"pruned rounds $lastRounds")
  }

  test("a negative traversed weight fails the query") {
    val s = chainSession(4, i => if (i == 1) -2 else 1)
    val e = intercept[Exception](rows(s,
      """MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 3}), e.w)
        |RETURN length(p) AS len""".stripMargin))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains(
      "dijkstra requires non-negative edge weights, got -2.0")),
      messages.mkString("\n"))
  }

  /** Per (origin, target) pair: the length of the cheapest path, ties
    * broken by fewer edges (positive weights make it a simple path).
    */
  private def cheapestLengths(edges: Seq[(Int, Int, Int)], origins: Seq[Int],
      targets: Set[Int]): Seq[String] =
    origins.flatMap { a =>
      val best = scala.collection.mutable.Map(a -> (0L, 0))
      val queue = scala.collection.mutable.PriorityQueue((0L, 0, a))(
        Ordering.Tuple3[Long, Int, Int].reverse)
      while (queue.nonEmpty) {
        val (d, l, v) = queue.dequeue()
        if (best(v) == (d, l))
          edges.filter(_._1 == v).foreach { case (_, u, w) =>
            val cand = (d + w, l + 1)
            if (best.get(u).forall(Ordering.Tuple2[Long, Int].lt(cand, _))) {
              best(u) = cand
              queue.enqueue((cand._1, cand._2, u))
            }
          }
      }
      best.collect { case (t, (_, l)) if targets(t) && t != a => s"$a|$t|$l" }
    }.sorted

  /** Per (origin, target) pair: min(cap, number of trails from origin to
    * target), by a depth-first search that stops at `cap` and only
    * enters vertices that still reach the target.
    */
  private def trailCounts(edges: Seq[(Int, Int, Int)], origins: Seq[Int],
      targets: Set[Int], cap: Int): Seq[String] = {
    val indexed = edges.zipWithIndex
    def reaching(t: Int): Set[Int] = {
      var seen = Set(t)
      var grew = true
      while (grew) {
        val more = edges.collect { case (x, y, _) if seen(y) => x }.toSet
        grew = !more.subsetOf(seen)
        seen ++= more
      }
      seen
    }
    val counts = for {
      a <- origins; t <- targets.toSeq.sorted if t != a
      live = reaching(t) if live(a)
    } yield {
      var found = 0
      def dfs(v: Int, used: Set[Int]): Unit =
        indexed.foreach { case ((x, y, _), id) =>
          if (found < cap && x == v && !used(id) && live(y)) {
            if (y == t) found += 1
            dfs(y, used + id)
          }
        }
      dfs(a, Set.empty)
      s"$a|$t|$found"
    }
    counts.sorted
  }

  test("pruned ≡ fixpoint on random weighted multigraphs (k=1 and k=2)") {
    for (seed <- Seq(5, 77)) {
      val root = Files.createTempDirectory(s"graft_dij_$seed").toString
      val s = new CypherSession(spark, new GraphCatalog(spark, root))
      s.createGraph(s"d$seed")
      s.createVLabel("v"); s.createELabel("e")
      val rnd = new java.util.Random(seed)
      (0 until 12).foreach(i =>
        s.cypher(s"CREATE (:v {n: $i, grp: ${i % 3}})"))
      val edges = Seq.newBuilder[(Int, Int, Int)]
      for (_ <- 0 until 30) {
        val a = rnd.nextInt(12); val bb = rnd.nextInt(12)
        if (a != bb) {
          val w = rnd.nextInt(9) + 1
          s.cypher(s"MATCH (x:v {n: $a}), (y:v {n: $bb}) " +
            s"CREATE (x)-[:e {w: $w}]->(y)")
          edges += ((a, bb, w))
        }
      }
      val es = edges.result()
      def grp(g: Int) = (0 until 12).filter(_ % 3 == g)
      // multi-origin × multi-target pairs, zero-weight-free
      assert(rows(s,
        """MATCH p = dijkstra((a:v {grp: 0})-[e:e]->(b:v {grp: 1}), e.w)
          |RETURN a.n AS an, b.n AS bn, length(p) AS len""".stripMargin) ==
        cheapestLengths(es, grp(0), grp(1).toSet), s"seed=$seed k=1")
      // top-k variant: count per pair is tie-insensitive
      assert(rows(s,
        """MATCH p = dijkstra((a:v {grp: 2})-[e:e]->(b:v {grp: 0}), e.w LIMIT 2)
          |RETURN a.n AS an, b.n AS bn, count(*) AS c""".stripMargin) ==
        trailCounts(es, grp(2), grp(0).toSet, cap = 2).filterNot(_.endsWith("|0")),
        s"seed=$seed k=2")
    }
  }
}
