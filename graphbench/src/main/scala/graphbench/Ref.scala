package graphbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

/** Plain driver-side reference implementations of the `GraphAnalytics`
  * calls the traverse workload makes, written from each function's
  * documented contract (not from its code): textbook peeling and BFS
  * loops over in-memory adjacency lists. The edge lists are small (at
  * most a few hundred thousand edges at sf0.1).
  */
object Ref {
  type Edges = Seq[(Long, Long)]

  def edges(df: DataFrame): Edges =
    df.collect().toSeq.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))

  /** Distinct undirected edges without self-loops, as adjacency sets. */
  private def undirected(es: Edges): Map[Long, Set[Long]] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    for ((u, v) <- es if u != v) {
      adj.getOrElseUpdate(u, mutable.Set()) += v
      adj.getOrElseUpdate(v, mutable.Set()) += u
    }
    adj.view.mapValues(_.toSet).toMap
  }

  /** BFS from `s` up to `maxDepth`: vertex -> (dist, shortest-path count). */
  private def bfs(adj: Map[Long, Set[Long]], s: Long, maxDepth: Int): Map[Long, (Int, Long)] = {
    val seen = mutable.Map(s -> (0, 1L))
    var frontier = Seq(s)
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      val next = mutable.Map[Long, Long]()
      for (x <- frontier; y <- adj.getOrElse(x, Set.empty) if !seen.contains(y))
        next(y) = next.getOrElse(y, 0L) + seen(x)._2
      next.foreach { case (y, sigma) => seen(y) = (d, sigma) }
      frontier = next.keys.toSeq
    }
    seen.toMap
  }

  /** k-core peeling: rows (id, degree inside the core). */
  def kCore(es: Edges, k: Int): Seq[Seq[Any]] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    undirected(es).foreach { case (v, ns) => adj(v) = mutable.Set() ++ ns }
    var victims = adj.collect { case (v, ns) if ns.size < k => v }.toSeq
    while (victims.nonEmpty) {
      for (v <- victims; n <- adj.remove(v).getOrElse(Nil); ns <- adj.get(n)) ns -= v
      victims = adj.collect { case (v, ns) if ns.size < k => v }.toSeq
    }
    adj.toSeq.collect { case (v, ns) if ns.nonEmpty => Seq(v, ns.size.toLong) }
  }

  /** Stress centrality: per vertex v, the number of shortest (s, t)
    * paths (s != t, both != v, length <= maxDepth) running through v.
    */
  def stress(es: Edges, maxDepth: Int): Seq[Seq[Any]] = {
    val adj = undirected(es)
    val sp = adj.keys.map(s => s -> (bfs(adj, s, maxDepth) - s)).toMap
    val acc = mutable.Map[Long, Long]()
    for ((s, fromS) <- sp; (v, (d1, g1)) <- fromS; (t, (d2, g2)) <- sp(v) if t != s)
      fromS.get(t) match {
        case Some((d3, _)) if d1 + d2 == d3 => acc(v) = acc.getOrElse(v, 0L) + g1 * g2
        case _ =>
      }
    acc.toSeq.map { case (v, n) => Seq(v, n) }
  }
}
