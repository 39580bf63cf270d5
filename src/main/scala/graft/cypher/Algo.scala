package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.J
import graft.graph.GraphCatalog
import Ast._
import Kind._

/** Iterative graph algorithms as driver-side DataFrame loops
  * (SURVEY §2.4, §3.4, §4.3: no custom physical operators — Catalyst
  * plans each level; localCheckpoint bounds lineage).
  *
  * Scale design: frontier expansion is one equi-join per level (shuffle
  * on vertex id); shortest-path search prunes by a visited-(origin,
  * vertex) set (anti-join), so each vertex enters the frontier once per
  * origin — O(V) frontier rows per origin instead of path explosion.
  */
object Algo {

  // synthetic-name suffix for unnamed path/rel variables: a process
  // counter, NOT hashCode%1000 — two unnamed shortestpath patterns in
  // one query could collide mod 1000 and bind duplicate column names
  // (r12 review). Names are transient plan artifacts; run-to-run
  // stability is not required, uniqueness is.
  private val synthSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Safety cap for unbounded expansions (reference: INT_MAX,
    * execGraphVle.c:33 — we cap pragmatically; uniqueness bounds
    * terminate loops well before this on real data). Configurable per
    * session via `spark.graft.maxDepth` for the rare genuinely deeper
    * traversal — a documented deviation from the reference's
    * unbounded default.
    */
  private val DefaultMaxDepth = 64
  private def maxDepthOf(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.get("spark.graft.maxDepth", DefaultMaxDepth.toString).toInt

  /** Skew-safe frontier→adjacency join for the iterative loops.
    *
    * A supernode (hub vertex) concentrates a level's frontier⋈edges
    * shuffle on one task: every frontier row arriving at the hub AND
    * the hub's whole adjacency hash to the same partition, and AQE's
    * skew split cannot amortize it because each BFS/VLE level is a
    * fresh shuffle. With `spark.graft.skew.salt = S > 1`, adjacency
    * rows of hubs (traversal degree >= `spark.graft.skew.hubDegree`)
    * are split into S sub-keys by a deterministic edge-id hash, and
    * each frontier row bound for a hub is replicated S ways — the
    * hub's expansion product becomes S parallel tasks. Non-hub rows
    * pay one broadcast-hash probe and keep salt 0, so results are
    * row-identical to the unsalted join (SkewSaltSpec asserts this).
    * Off by default (salt = 1): the plans are byte-identical to the
    * pre-salt ones and the degree aggregation never runs.
    */
  private[cypher] final class Expander(spark: org.apache.spark.sql.SparkSession,
      E: DataFrame, edgeKey: String) {
    private val salt = spark.conf.get("spark.graft.skew.salt", "1").toInt
    private val hubDegree =
      spark.conf.get("spark.graft.skew.hubDegree", "100000").toLong
    // lazy: the degree aggregation only runs when a join actually
    // happens with salting on (a search bounded at depth 0 never
    // expands)
    private lazy val hubs: Option[DataFrame] =
      if (salt <= 1) None
      else {
        val (h, n) = GraphCatalog.checkpointCounted(
          E.groupBy(col(edgeKey).as("__hub")).count()
            .where(col("count") >= hubDegree).select("__hub"))
        if (n == 0L) None else Some(h)
      }
    /** Adjacency with hub rows fanned across `salt` sub-keys. */
    private[cypher] lazy val salted: DataFrame = hubs match {
      case None => E
      case Some(h) =>
        E.join(broadcast(h), col(edgeKey) === col("__hub"), "left")
          .withColumn("__esalt", when(col("__hub").isNotNull,
            pmod(hash(col("__edge").getField("id")), lit(salt)))
            .otherwise(lit(0)))
          .drop("__hub")
    }
    /** frontier ⋈ E on `fKey === edgeKey && extra`, skew-safe. */
    def join(frontier: DataFrame, fKey: Column, extra: Column): DataFrame =
      hubs match {
        case None => frontier.join(E, fKey === col(edgeKey) && extra)
        case Some(h) =>
          val f = frontier.join(broadcast(h), fKey === col("__hub"), "left")
            .withColumn("__fsalt", explode(when(col("__hub").isNotNull,
              sequence(lit(0), lit(salt - 1))).otherwise(array(lit(0)))))
            .drop("__hub")
          f.join(salted,
            fKey === col(edgeKey) && col("__fsalt") === col("__esalt") && extra)
            .drop("__fsalt", "__esalt")
      }
  }

  /** Every vertex as (`__v` struct, `__vid`) — the scan that attaches
    * vertex structs to path arrays.
    */
  private def vertexStructs(b: Builder): DataFrame =
    b.vertexScan(None, only = false)
      .select(struct(col("id"), col("properties")).as("__v"), col("id").as("__vid"))

  /** One hop of a path frame (`__start`/`__cur`/`__edges`/`__ids`/
    * `verts`): each path extends by every adjacent edge it does not
    * hold yet (per-path edge uniqueness, execGraphVle.c), `__cur` moves
    * to the edge's far end, and `vert` (a column of the joined row) is
    * appended to `verts`, which is kept as is when `vert` is None.
    * `joined` adds caller columns to the joined rows (VLE's vertex
    * struct, dijkstra's weight) for `vert` and `extra` to read.
    */
  private def hop(ex: Expander, paths: DataFrame, verts: String,
      vert: Option[Column], joined: DataFrame => DataFrame = identity,
      extra: Seq[Column] = Nil): DataFrame =
    joined(ex.join(paths, col("__cur"),
      !array_contains(col("__ids"), col("__edge").getField("id"))))
      .select(Seq(col("__start"), col("__e").as("__cur"),
        concat(col("__edges"), array(col("__edge"))).as("__edges"),
        concat(col("__ids"), array(col("__edge").getField("id"))).as("__ids"),
        vert.fold(col(verts))(v => concat(col(verts), array(v))).as(verts)) ++
        extra: _*)

  /** The union of the path levels whose length lies in [lo, hi]. */
  private final class Levels(lo: Long, hi: Long) {
    private var acc: Option[DataFrame] = None
    def add(len: Long, level: DataFrame): Unit =
      if (len >= lo && len <= hi)
        acc = Some(acc.fold(level)(_.unionAll(level)))
    def paths(b: Builder, verts: String): DataFrame =
      acc.getOrElse(emptyPaths(b, verts))
  }

  /** Zero-length paths, origin to itself with empty arrays
    * (isZeroLengthVLE parse_graph.c:198,2388-2404); `verts` names the
    * vertex column: `__verts` (structs) or `__vids` (ids).
    */
  private def zeroPaths(b: Builder, origins: DataFrame, verts: String): DataFrame =
    origins.select(col("__origin").as("__start"), col("__origin").as("__cur"),
      b.emptyEdgeArray.as("__edges"), b.emptyLongArray.as("__ids"),
      (if (verts == "__verts") b.emptyVertexArray else b.emptyLongArray).as(verts))

  /** A property-map constraint on `elem`'s properties as jsonb
    * equality per key, or containment for a parameter object.
    */
  private def propsQual(comp: Compiler, elem: Column, pe: Expr): Column = {
    val propsCol = elem.getField("properties")
    pe match {
      case MapExpr(fields) =>
        fields.map { case (k, v) =>
          J.eq(J.getKey(propsCol, k), comp.toJ(comp.compile(v)))
        }.reduceOption(_ && _).getOrElse(lit(true))
      case other => J.contains(propsCol, comp.toJ(comp.compile(other)))
    }
  }

  // ================================================================ VLE

  /** Variable-length expansion -[e:t*lo..hi]-> joined onto the frame.
    * Produces relName (array<edge>) and `relName__vs` (array<vertex> of
    * the vertices after each hop) columns, then binds the target node.
    * Mirrors execGraphVle.c DFS semantics: per-path edge uniqueness,
    * zero-length support, undirected via both-orientation scan.
    */
  /** @param needVerts whether the expansion must carry intermediate
    *   vertex STRUCTS (only a bound path variable consumes them —
    *   nodes(p)/graphpath construction). Without one, the per-level
    *   join against the all-labels vertex union — the widest scan in
    *   the loop — is skipped entirely and the array stays empty.
    */
  def vleJoin(b: Builder, st0: State, prevName: String, rel: RelPattern,
      node: NodePattern, relName: String, lo: Long,
      hiOpt: Option[Long], needVerts: Boolean = true): (State, String) = {
    val spark = b.spark
    val MaxDepth = maxDepthOf(spark)
    val hi = hiOpt.getOrElse(MaxDepth.toLong).min(MaxDepth.toLong)

    val E = {
      // keep the loop frames narrow: drop shred sidecar passthroughs
      val base = b.edgeScan(rel.types, rel.direction, rel.only)
        .select(col("__edge"), col("__s"), col("__e"))
      // constant prop constraint on every traversed edge
      rel.props.fold(base)(pe => base.where(
        propsQual(b.compiler(State(base, Vector.empty)), col("__edge"), pe)))
    }

    val ex = new Expander(spark, E, "__s")

    val V = vertexStructs(b)

    // seed the expansion from the frame's bound start vertices only
    // (the zero-length paths of the snapshotted origin set) — a
    // selective outer pattern must not pay a whole-graph expansion
    val origins = st0.df
      .select(col(Compiler.q(prevName)).getField("id").as("__origin"))
      .distinct().localCheckpoint(true)
    val zero = zeroPaths(b, origins, "__verts")

    val withV: DataFrame => DataFrame =
      if (needVerts) _.join(V, col("__e") === col("__vid")) else identity
    // zero-length paths: origins come from bound vertex scans, so no
    // existence re-check
    val levels = new Levels(lo, hi)
    levels.add(0L, zero)

    // A range longer than 5 takes one counted checkpoint per level and
    // stops on an empty one (execGraphVle.c's DFS stops when its stack
    // drains); each level is materialized once, for the stop test and
    // the final plan alike. A shorter range runs its joins lazily
    // inside the final plan.
    val counted = hi > 5L
    var frontier = zero
    var k = 0L
    var exhausted = false
    while (k < hi && !exhausted) {
      val next = hop(ex, frontier, "__verts",
        if (needVerts) Some(col("__v")) else None, withV)
      k += 1
      if (counted) {
        val (cp, n) = GraphCatalog.checkpointCounted(next)
        frontier = cp
        exhausted = n == 0L
      } else frontier = next
      if (!exhausted) levels.add(k, frontier)
    }

    // Loud cap (the reference's default bound is INT_MAX,
    // execGraphVle.c:33, so an unbounded `*..` never truncates there):
    // when the pattern's upper bound came from the cap rather than the
    // query AND the expansion can still extend past it, error instead
    // of silently dropping the deeper paths — the user raises
    // spark.graft.maxDepth (per-level checkpoints keep lineage bounded)
    // or writes an explicit upper bound.
    if (hiOpt.forall(_ > MaxDepth.toLong) && !exhausted &&
        hop(ex, frontier, "__verts", None).head(1).nonEmpty)
      throw new IllegalStateException(
        s"variable-length expansion exceeded the depth cap $MaxDepth with " +
          "paths still extending; raise spark.graft.maxDepth or bound the " +
          "pattern (reference default is unbounded, execGraphVle.c:33)")

    joinExpansion(b, st0, prevName, node, relName, levels.paths(b, "__verts"))
  }

  /** Join an expansion relation (cols __start/__cur/__edges/__verts)
    * onto the outer frame and bind the target node.
    */
  private def joinExpansion(b: Builder, st0: State, prevName: String,
      node: NodePattern, relName: String, vle: DataFrame): (State, String) = {
    var st = st0
    val prevId = col(Compiler.q(prevName)).getField("id")
    val expansion = vle.select(col("__start").as(s"__vs0_$relName"),
      col("__cur").as(s"__ve_$relName"),
      col("__edges").as(relName),
      col("__verts").as(s"${relName}__vs"))
    var df = st.df.join(expansion, prevId === col(s"__vs0_$relName"))
    st = State(df, st.vars :+ (relName -> KEL))
    val nodeName = node.variable.getOrElse(s"__vt_$relName")
    if (st.has(nodeName)) {
      df = st.df.where(col(s"__ve_$relName") === col(Compiler.q(nodeName)).getField("id"))
      st = State(df, st.vars)
      // a label on the re-bound target is a constraint, not a scan —
      // it must filter here exactly like the fresh-bind scan would
      // (ONLY = exact label, otherwise inheritance subtree), including
      // the unknown-label / wrong-kind diagnostics
      node.label.foreach(l =>
        st = State(b.inLabel(st.df, nodeName, l, node.only), st.vars))
    } else {
      val scan = b.vertexScan(node.label, node.only)
        .select(struct(col("id"), col("properties")).as(nodeName))
      df = st.df.join(scan,
        col(s"__ve_$relName") === col(Compiler.q(nodeName)).getField("id"))
      st = State(df, st.vars :+ (nodeName -> KV))
    }
    node.props.foreach { pe =>
      st = State(st.df.where(
        propsQual(b.compiler(st), col(Compiler.q(nodeName)), pe)), st.vars)
    }
    st = State(st.df.drop(s"__vs0_$relName", s"__ve_$relName"), st.vars)
    (st, nodeName)
  }

  // ==================================================== shortest paths

  /** shortestpath/allshortestpaths/dijkstra over a single-hop-var
    * pattern (parse_shortestpath.c surface). BFS with visited-set
    * pruning: each (origin, vertex) enters the frontier at its minimal
    * depth only (the set-based analog of nodeShortestpath.c's two-sided
    * hash expansion).
    */
  def findPaths(b: Builder, st0: State, p: PathPattern,
      finder: PathFinder): (State, Vector[(String, Kind)]) = {
    require(p.tail.length == 1, "path finder patterns take exactly one relationship")
    val (rel, targetNode) = p.tail.head
    val sourceNode = p.head

    // bind endpoints first (label/prop constrained scans or bound vars)
    var (st, srcName) = b.bindNode(st0, sourceNode)
    // snapshot source ids BEFORE the target binds (its scan cross-joins
    // into the frame; the origin set must not pay that product)
    val srcId0 = col(Compiler.q(srcName)).getField("id")
    val origins = st.df.select(srcId0.as("__origin")).distinct()
      .localCheckpoint(true)
    val (st2, tgtName) = b.bindNode(st, targetNode)
    st = st2
    val tgtId0 = col(Compiler.q(tgtName)).getField("id")
    // target snapshot is only consumed by the BFS cap check and the
    // dijkstra prune — a search that needs neither must not pay the
    // extra materialization
    lazy val targets = st.df.select(tgtId0.as("__target")).distinct()
      .localCheckpoint(true)

    // reference restrictions (parse_shortestpath.c): dijkstra rejects
    // variable-length relationships outright (checkRelFormatForDijkstra,
    // parse_shortestpath.c:1068-1079 "variable length relationship is
    // not supported"); shortestpath allows minimal length 0 or 1 only
    // (parse_shortestpath.c:238-247)
    finder match {
      case _: PathFinder.Dijkstra if rel.varLength.isDefined =>
        throw new IllegalArgumentException(
          "variable length relationship is not supported")
      case _ =>
        if (rel.varLength.flatMap(_._1).exists(_ > 1L))
          throw new IllegalArgumentException(
            "only 0 or 1 is allowed for minimal length")
    }
    val (lo, hi) = rel.varLength.getOrElse((Some(1L), Some(1L)))
    val loV = lo.getOrElse(1L)
    val MaxDepth = maxDepthOf(b.spark)
    val hiV = hi.getOrElse(MaxDepth.toLong).min(MaxDepth.toLong)
    // true when the effective bound came from the ENGINE cap, not the
    // query (reference searches to LONG_MAX for `[*]`,
    // parse_shortestpath.c:458) — the searches fail loud if they hit it
    // with pairs still unmatched and paths still extending. The message
    // distinguishes an unbounded pattern from an explicit user bound the
    // cap CLIPPED ([*..100] with cap 64): only "raise the cap" applies
    // to the latter (r10 ADVICE).
    val capped = hi.getOrElse(Long.MaxValue) > MaxDepth.toLong
    val capMsg: Option[String] =
      if (!capped) None
      else Some(hi match {
        case Some(u) =>
          s"shortest-path search exceeded the depth cap $MaxDepth " +
            s"(spark.graft.maxDepth), which clipped the query's explicit " +
            s"upper bound [*..$u], with endpoint pairs still unmatched " +
            s"and the frontier still extending; raise spark.graft.maxDepth " +
            s"to at least $u"
        case None =>
          s"shortest-path search exceeded the depth cap $MaxDepth " +
            "with endpoint pairs still unmatched and the frontier still " +
            "extending; raise spark.graft.maxDepth or bound the pattern " +
            "(the reference searches unbounded, parse_shortestpath.c:458)"
      })
    val synthId = synthSeq.incrementAndGet()
    val relName = rel.variable.getOrElse(s"__sp_e_$synthId")

    // Source-constrained search: expand only from the bound source
    // vertices instead of every vertex (the set-based analog of the
    // reference seeding its hash expansion from the outer tuple's
    // endpoints, nodeShortestpath.c SP_GET_PARAMETER); cross-validated
    // against the VLE path universe (PathFinderCrossCheckSpec).
    val paths = finder match {
      case PathFinder.Dijkstra(weight, qual, limitK) =>
        dijkstra(b, rel, relName, weight, qual, limitK.getOrElse(1L), origins,
          targets)
      case f =>
        bfs(b, rel, loV, hiV, keepAll = f == PathFinder.AllShortest, origins,
          targets, capMsg)
    }

    // join on both endpoints
    val srcId = col(Compiler.q(srcName)).getField("id")
    val tgtId = col(Compiler.q(tgtName)).getField("id")
    var df = st.df.join(paths,
      srcId === col("__start") && tgtId === col("__cur"))
    // path variable struct: vertices = [src] ++ verts, edges
    val pv = p.variable.getOrElse(s"__sp_p_$synthId")
    df = df.withColumn(pv, struct(
      concat(array(col(Compiler.q(srcName))), col("__verts")).as("vertices"),
      col("__edges").as("edges")))
    df = df.drop("__start", "__cur", "__verts", "__ids")
      .withColumnRenamed("__edges", relName)
    val newVars = Vector(relName -> KEL, pv -> KP)
    (State(df, st.vars ++ newVars), Vector(relName -> KEL))
  }

  /** One path per (origin, current) — deterministic min by (length,
    * edge-id array); within one BFS level every path has the same
    * length, so there it is the min by the edge-id array. An
    * aggregation (min_by) rather than a row_number window: partial
    * aggregation combines map-side, so the exchange carries one row per
    * pair instead of sorting the whole frontier through it.
    */
  private def minPath(paths: DataFrame): DataFrame =
    paths.groupBy("__start", "__cur")
      .agg(min_by(struct(col("__edges"), col("__ids"), col("__vids")),
        struct(size(col("__ids")), col("__ids"))).as("__p"))
      .select(col("__start"), col("__cur"), col("__p.__edges").as("__edges"),
        col("__p.__ids").as("__ids"), col("__p.__vids").as("__vids"))

  /** Level-synchronous BFS from the bound origins; visited-set pruning
    * keeps one/all minimal-depth paths. The search carries vertex IDS
    * only (__vids); vertex structs are re-attached once at the end for
    * the surviving minimal paths — the per-level vertex join (the
    * widest scan in the loop) happens once instead of once per level.
    *
    * The seed is NOT pre-marked visited — a cycle back to the origin is
    * a valid shortest path (shortestpath((a)-[*]->(a))), and pre-marking
    * the origin would prune the only path of a length-1 self-loop
    * (PathFinderCrossCheckSpec pins it). First re-arrival at an origin
    * lands in visited like any other vertex, so later (longer)
    * re-arrivals still prune.
    */
  private def bfs(b: Builder, rel: RelPattern, lo: Long, hi: Long,
      keepAll: Boolean, origins: DataFrame, targets: => DataFrame,
      capMsg: Option[String]): DataFrame = {
    val E = b.edgeScan(rel.types, rel.direction, rel.only)
      .select(col("__edge"), col("__s"), col("__e"))
    val ex = new Expander(b.spark, E, "__s")
    val zero = zeroPaths(b, origins, "__vids")
    val levels = new Levels(lo, hi)
    levels.add(0L, zero)
    var frontier = zero
    // the (origin, vertex) pairs reached so far, as (__o, __at)
    var visited: Option[DataFrame] = None
    var depth = 0L
    var exhausted = false
    while (depth < hi && !exhausted) {
      val arrived = hop(ex, frontier, "__vids", Some(col("__e")))
      // prune: only first arrivals per (origin, vertex); nothing is
      // visited before the first level, which stays a single join
      val next = visited.fold(arrived)(v => arrived.join(v,
        col("__start") === col("__o") && col("__cur") === col("__at"),
        "left_anti"))
      // every level is counted for termination AND consumed by the
      // final plan: materialize each exactly once, the count riding
      // the same job
      val (cp, n) = GraphCatalog.checkpointCounted(
        if (keepAll) next else minPath(next))
      frontier = cp
      depth += 1
      exhausted = n == 0L
      if (!exhausted) {
        levels.add(depth, frontier)
        // no distinct: duplicates are harmless on the anti-join probe
        // side, and each frontier is checkpointed so the union stays
        // shallow — one less job per level
        val at = cp.select(col("__start").as("__o"), col("__cur").as("__at"))
        visited = Some(visited.fold(at)(_.unionAll(at)))
      }
    }

    // Loud cap, target-aware (same philosophy as the VLE cap; the
    // reference searches to LONG_MAX for an unbounded pattern,
    // parse_shortestpath.c:458): when the bound came from the ENGINE
    // cap and the frontier is still live, results may be missing pairs
    // that first connect deeper — error UNLESS every requested
    // (origin, target) pair already has its shortest path (then deeper
    // frontiers cannot change the answer). The check runs only in the
    // rare cap-hit case.
    val found = levels.paths(b, "__vids")
    if (capMsg.isDefined && !exhausted) {
      // every matched (start, cur) pair has start IN origins by
      // construction; restricting cur to the target set makes the
      // distinct matched-pair set a SUBSET of origins x targets, so
      // completeness is a count comparison — no |V|^2 cross-product
      // probe just to decide whether to throw (r10 ADVICE)
      val matched = found.select(col("__start").as("__mo"), col("__cur").as("__mt"))
        .join(targets, col("__mt") === col("__target"), "left_semi")
      val allPairs = origins.count() * targets.count()
      if (matched.distinct().count() < allPairs)
        throw new IllegalStateException(capMsg.get)
    }

    // visited pruning already ensures min-depth-only arrivals;
    // zero-length needs the same guard
    minimalPaths(b, found, keepAll)
  }

  /** The BFS finish: keep only the minimal depth per
    * (origin, vertex) pair — every such path, or with !keepAll the one
    * with the least edge-id array — then re-attach vertex structs.
    */
  private def minimalPaths(b: Builder, paths: DataFrame,
      keepAll: Boolean): DataFrame =
    attachVerts(b,
      if (keepAll)
        paths.withColumn("__minlen",
          min(size(col("__ids"))).over(Window.partitionBy("__start", "__cur")))
          .where(size(col("__ids")) === col("__minlen")).drop("__minlen")
      else minPath(paths))

  /** Re-attach vertex structs for surviving paths: posexplode the
    * visited-vertex id array, one join against the vertex scan, rebuild
    * the array in path order. Zero-length paths keep empty arrays.
    */
  private def attachVerts(b: Builder, paths: DataFrame): DataFrame = {
    val keyed = paths.withColumn("__pk", monotonically_increasing_id())
      .localCheckpoint(true)
    val exploded = keyed
      .select(col("__pk"), posexplode(col("__vids")).as(Seq("__pos", "__vx")))
      .join(vertexStructs(b), col("__vx") === col("__vid"))
      .groupBy("__pk")
      .agg(collect_list(struct(col("__pos"), col("__v"))).as("__pv"))
      .select(col("__pk").as("__pk2"),
        transform(array_sort(col("__pv")), x => x.getField("__v")).as("__verts"))
    keyed.join(exploded, col("__pk") === col("__pk2"), "left")
      .withColumn("__verts", coalesce(col("__verts"), b.emptyVertexArray))
      .drop("__pk", "__pk2", "__vids")
  }

  /** Bellman-Ford-style weighted search keeping top-k cheapest paths
    * per (origin, vertex) (nodeDijkstra.c pairing-heap semantics,
    * set-based: converges in <= V relaxation rounds).
    */
  private def dijkstra(b: Builder, rel: RelPattern, relName: String,
      weight: Expr, qual: Option[Expr], limitK: Long,
      origins: DataFrame, targets: => DataFrame): DataFrame = {
    val E0 = b.edgeScan(rel.types, rel.direction, rel.only)
    // compile weight/qual with the edge struct bound under the rel
    // name — through the BUILDER's compiler factory, so $parameters
    // and label()/type() resolve against the session's parameter map
    // and labid catalog exactly as in any other expression (an empty
    // labid map would silently resolve every label() to NULL and an
    // empty param map would reject a legitimate $param)
    val kinds = Map(relName -> (KE: Kind))
    val comp = b.compilerFor(kinds)
    val E1 = E0.withColumn(relName, col("__edge"))
    // the qual prunes which edges are traversable — evaluate on the
    // scan; the WEIGHT is deferred to traversed edges only (each
    // relaxation's join shrinks the edge set first, so the jsonb
    // weight expression never runs over the whole label)
    val E2 = qual.map(q => E1.where(comp.toBool(comp.compile(q)))).getOrElse(E1)
    val E = E2.select(col("__edge"), col("__s"), col("__e"))
    val ex = new Expander(b.spark, E, "__s")
    // the target prune below (like the reference's Dijkstra) is only
    // sound for non-negative weights: a negative one fails the query
    // instead of risking a wrong cheapest path
    def withWeight(df: DataFrame): DataFrame =
      df.withColumn(relName, col("__edge"))
        .withColumn("__w",
          coalesce(J.toDouble(comp.toJ(comp.compile(weight))), lit(1.0)))
        .drop(relName)
        .withColumn("__w", when(col("__w") < 0.0, raise_error(concat(
          lit("dijkstra requires non-negative edge weights, got "),
          col("__w").cast("string")))).otherwise(col("__w")))

    def topK(df: DataFrame): DataFrame =
      if (limitK == 1L) {
        // cheapest-path-only (the default): min_by aggregation instead
        // of a rank window — partial aggregation combines map-side
        val payload = df.columns.filterNot(Set("__start", "__cur"))
        df.groupBy("__start", "__cur")
          .agg(min_by(struct(payload.map(col): _*),
            struct(col("__dist"), size(col("__ids")), col("__ids")))
            .as("__p"))
          .select(col("__start") +: col("__cur") +:
            payload.map(c => col(s"__p.$c").as(c)): _*)
      } else {
        val w = Window.partitionBy("__start", "__cur")
          .orderBy(col("__dist"), size(col("__ids")), col("__ids"))
        df.withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= limitK).drop("__rn")
      }

    // ids-only DELTA relaxation (vertex structs re-attach once at the
    // end, like bfs): only paths that entered the top-k set last round
    // expand again — settled paths never rejoin the edge table (the
    // set-based form of Bellman-Ford's "only relax out of changed
    // vertices"). A survivor tag doubles as the convergence test, so a
    // round costs one join + one window — no aggregate-diff pass.
    // An expanded path can never be row-identical to an existing one
    // (it is strictly longer than its source path), so "__new survived
    // the top-k window" exactly means "the best-set changed". The seed
    // relaxes the zero-length origin paths to depth 1; that relaxation
    // is not a round. The count of survivors rides each checkpoint of
    // the best set: that count is the round's stop test.
    def relax(paths: DataFrame): DataFrame =
      hop(ex, paths, "__vids", Some(col("__e")), withWeight,
        Seq((col("__dist") + col("__w")).as("__dist")))
        .withColumn("__new", lit(1))
    val isNew = col("__new") === 1
    var (best, fresh) = GraphCatalog.checkpointCounted(
      topK(relax(zeroPaths(b, origins, "__vids").withColumn("__dist", lit(0.0)))),
      where = isNew)

    // Target-side termination (the set-based form of the reference's
    // pairing-heap early exit, nodeDijkstra.c:37-50): the only rows
    // findPaths consumes are (origin, target) pairs, and with
    // NON-NEGATIVE weights an extension is never cheaper than its
    // source path — so once an origin has a full k-set at EVERY
    // target, any frontier path costlier than that origin's worst
    // settled target distance can neither displace a target entry nor
    // lead anywhere that could. Pruning is strict (> bound): an
    // equal-cost path may still win the (dist, length, ids) tiebreak
    // through zero-weight edges.
    // Arming is LAZY (the target snapshot materializes only if a third
    // round happens) and bounded: with an unselective target set (a
    // bare (b) pattern = every vertex) the "all (origin,target) k-sets
    // full" condition essentially never fires, so the per-round bounds
    // aggregation would be pure overhead — past the cap the search
    // just runs the plain fixpoint
    lazy val nTargets = {
      val n = targets.count()
      if (n > DijkstraPruneMaxTargets) 0L else n
    }
    // the bounds aggregation (2 shuffles/round + the frontier join) is
    // pure overhead on shallow searches that finish before any prune
    // could fire — measured ~2x on 2-hop graphs — so pruning arms only
    // from the third round on; deep searches (where it is the
    // asymptotic win) keep the early exit
    def pruneFrontier(f: DataFrame): DataFrame = {
      val bounds = best
        .join(targets, col("__cur") === col("__target"), "left_semi")
        .groupBy("__start", "__cur")
        .agg(count(lit(1)).as("__n"), max(col("__dist")).as("__kd"))
        .groupBy("__start")
        .agg(count(lit(1)).as("__nt"), min(col("__n")).as("__minn"),
          max(col("__kd")).as("__bound"))
        .where(col("__nt") === nTargets && col("__minn") === limitK)
        .select(col("__start").as("__bstart"), col("__bound"))
      f.join(bounds, col("__start") === col("__bstart"), "left")
        .where(col("__bound").isNull || col("__dist") <= col("__bound"))
        .drop("__bstart", "__bound")
    }

    var rounds = 0
    var frontier = best
    var live = fresh > 0L
    val MaxDepth = maxDepthOf(b.spark)
    while (rounds < MaxDepth && live) {
      val (cp, n) = GraphCatalog.checkpointCounted(
        topK(best.withColumn("__new", lit(0)).unionAll(relax(frontier))),
        where = isNew)
      best = cp
      rounds += 1
      frontier = best.where(isNew)
      live = n > 0L
      // only an armed prune can empty a non-empty frontier: probe it
      if (live && rounds >= 2 && nTargets > 0L) {
        frontier = pruneFrontier(frontier)
        live = frontier.head(1).nonEmpty
      }
    }
    lastDijkstraRounds.set(rounds)
    // the reference relaxes to convergence (nodeDijkstra's heap drains);
    // stopping at the engine cap with paths still improving could
    // return non-minimal weights — fail loud like the VLE cap instead
    // of silently answering
    if (rounds == MaxDepth && live) throw new IllegalStateException(
      s"dijkstra did not converge within the depth cap $MaxDepth (paths " +
        "still relaxing); raise spark.graft.maxDepth or restrict the " +
        "pattern (the reference searches to convergence, nodeDijkstra.c)")
    attachVerts(b, best.drop("__w", "__dist", "__new"))
  }

  /** Target-set size past which dijkstra skips the target prune. */
  private val DijkstraPruneMaxTargets = 65536L

  /** Test-observability hook: round count of the most recent dijkstra
    * on THIS thread. The previous session-conf form
    * (`spark.graft.dijkstra.lastRounds`) leaked a test probe into
    * shared session state and let concurrent queries clobber each
    * other's value.
    */
  private val lastDijkstraRounds = new ThreadLocal[Integer]
  def lastDijkstraRoundCount: Option[Int] =
    Option(lastDijkstraRounds.get()).map(_.intValue)

  /** No paths, in the path-frame schema; `verts` as in [[zeroPaths]]. */
  private def emptyPaths(b: Builder, verts: String): DataFrame =
    b.spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("__start", LongType), StructField("__cur", LongType),
        StructField("__edges", ArrayType(b.edgeStructType)),
        StructField("__ids", ArrayType(LongType)),
        StructField(verts, ArrayType(
          if (verts == "__verts") b.vertexStructType else LongType)))))
}
