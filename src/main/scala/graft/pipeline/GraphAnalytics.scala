package graft.pipeline

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.GraphCatalog

/** Whole-graph analytics over the same packed-long ids the Cypher
  * engine uses, interoperating with the other DataFrame operators
  * through plain (id, ...) frames. Everything is a DataFrame plan or a
  * driver-side DataFrame loop; the multi-source distance, reachability
  * and shortest-path-count closures share one frontier loop
  * ([[frontierClosure]]). `pageRank` alone runs on GraphX, because the
  * p24 oracle encodes GraphX's rank normalization.
  */
object GraphAnalytics {

  /** Storage level for the frontier loops' (source, vertex) pair-state
    * checkpoints — the memory hog of the distance/closure family
    * (reach sets multiply out on hub graphs). MEMORY_AND_DISK by
    * default: fastest when the state fits, and evictable to disk when
    * it does not (measured: DISK_ONLY doubled p57's sf1 time, 8.7s →
    * 15.8s, by paying serialization on states that fit comfortably).
    * Set the `graft.state.disk` system property to "1" to force
    * DISK_ONLY when a run's pair state must never compete with
    * execution memory — measured at the 100x probe:
    * MEMORY_AND_DISK checkpoint blocks pin the unified pool's
    * protected region and starve the per-round aggregation maps
    * ("unable to acquire ..., got 0") even at 80 GB, while DISK_ONLY
    * completes (each round streams the previous round's pairs once,
    * the access pattern disk is good at). `graft.Bench` sets it around
    * its probe ladders for K >= 100.
    */
  private def forcedDisk: Boolean =
    sys.props.get("graft.state.disk").contains("1")

  /** Auto-selected pair-state level: DISK_ONLY once the projected pair
    * state would occupy more than a quarter of the unified pool —
    * cached MEMORY_AND_DISK blocks pin the pool's protected region and
    * starve the per-round join/aggregation maps long before the blocks
    * themselves stop fitting (the measured 100× failure mode), while
    * DISK_ONLY streams each round's pairs once, which disk serves
    * fine. Below that, MEMORY_AND_DISK (measured ~2× faster when the
    * state fits comfortably: p57 sf1 8.7 s vs 15.8 s). The manual
    * forced-disk knob still wins so harnesses can pin a level.
    */
  private[pipeline] def pickLevel(spark: SparkSession,
      estRows: Long): org.apache.spark.storage.StorageLevel =
    if (forcedDisk ||
        estRows * ScaleGuard.BytesPerPair > ScaleGuard.budgetBytes(spark) / 4)
      org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Canonical undirected edges of a pair relation (u, v): (a, b) =
    * (min, max), self-loops dropped. Not deduplicated.
    */
  private def canonEdges(pairs: DataFrame): DataFrame =
    pairs.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .where(col("a") =!= col("b"))

  /** The distinct undirected edges in both orientations, (a, b) and
    * (b, a), checkpointed: the adjacency every undirected loop re-reads
    * each round.
    */
  private def bothWays(pairs: DataFrame): DataFrame = {
    val edges = canonEdges(pairs).distinct()
    edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
  }

  /** Sample modulus that leaves ~k sources: max(1, V/k), with V the
    * number of distinct vertices on a non-loop edge — one aggregate.
    */
  private def sampleMod(pairs: DataFrame, k: Long): Long = {
    val v = canonEdges(pairs)
      .select(explode(array(col("a"), col("b"))).as("x"))
      .agg(countDistinct(col("x"))).first().getLong(0)
    math.max(1L, v / k)
  }

  /** The depth-0 state of a multi-source BFS: (s, s) for every vertex
    * of `dir` passing `sourceFilter` (a predicate over column "s").
    */
  private def sources(dir: DataFrame, sourceFilter: Column): DataFrame =
    dir.select(col("a").as("s"), col("a").as("v")).distinct()
      .where(sourceFilter)

  /** The (source, vertex) pair-state closure behind the distance,
    * reachability and shortest-path-count analytics: a MULTI-SOURCE
    * frontier loop in which one (frontier ⋈ dir) join per round expands
    * every source's frontier at once. Each round:
    *  - pre-flights the join with the ScaleGuard round guard (free
    *    frontierRows·maxDeg bound, the exact degree-aware projection
    *    only past a threshold), so an oversized state fails loud in
    *    seconds instead of exhausting memory mid-join, naming
    *    `what(round)` and the scale twin `twin`;
    *  - picks the pair-state storage level from that estimate;
    *  - runs `step` over (frontier ⋈ dir on v = a) — it must yield
    *    (s, v, payload...) with the new vertex `b` as v — and anti-joins
    *    the visited pairs, so each (s, v) enters at its minimal depth;
    *  - checkpoints the level with its row count riding the same job,
    *    which is also the termination test.
    * `seed` is the depth-0 state, (s, v, payload...). Stops at
    * `maxDepth` rounds or an empty level. Returns (visited, levels):
    * every reached (s, v) pair including the seed, and the pairs first
    * reached at depth ≥ 1 with their payload and `dist`.
    */
  private def frontierClosure(dir: DataFrame, seed: DataFrame,
      maxDepth: Int, what: Int => String, twin: String)(
      step: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val spark = dir.sparkSession
    val deg = ScaleGuard.degreeTable(dir)
    val maxDeg = ScaleGuard.maxDegree(deg)
    var pending = seed
    var level = pickLevel(spark, 0L) // the seed: memory unless forced
    var depth = 0
    var visited: DataFrame = null
    var visitedRows = 0L
    var levels: DataFrame = null
    var live = true
    while (live) {
      val (frontier, rows) = GraphCatalog.checkpointCounted(pending, level)
      if (depth > 0) {
        val lvl = frontier.withColumn("dist", lit(depth.toLong))
        levels = if (levels == null) lvl else levels.unionAll(lvl)
      }
      // visited = union of ALREADY-checkpointed levels: re-materializing
      // the whole set each round copied O(|visited|) rows per round for
      // no lineage benefit (each leg is its own checkpoint; the union
      // plan depth is the depth cap, a handful)
      val pairs = frontier.select("s", "v")
      visited = if (visited == null) pairs else visited.unionAll(pairs)
      visitedRows += rows
      live = depth < maxDepth && rows > 0
      if (live) {
        depth += 1
        val est = ScaleGuard.guardRound(spark, frontier, deg, maxDeg,
          visitedRows, rows, what(depth), twin)
        level = pickLevel(spark, est)
        pending = step(frontier.join(dir, frontier("v") === dir("a")))
          .join(visited, Seq("s", "v"), "left_anti")
      }
    }
    (visited, if (levels != null) levels
      else seed.withColumn("dist", lit(0L)).where(lit(false)))
  }

  /** Static PageRank over an edge list (start, end) with packed ids;
    * returns (id, rank). resetProb/iterations follow GraphX defaults.
    */
  def pageRank(edgesDf: DataFrame, numIter: Int = 10,
      resetProb: Double = 0.15): DataFrame = {
    val spark = edgesDf.sparkSession
    import spark.implicits._
    val edges = edgesDf.select(col("start").cast("long"), col("end").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = Graph.fromEdges(edges, defaultValue = ())
    val pr = graph.staticPageRank(numIter, resetProb)
    val out = pr.vertices
      .map { case (id, rank) => (id, rank) }
      .toDF("id", "rank")
      .localCheckpoint(true)
    pr.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    out
  }

  /** Per-vertex triangle counts over an undirected pair relation
    * (u, v) — a pure DataFrame plan, no Pregel. Edges dedup to
    * canonical (min, max) form, then orient low→high by (degree, id)
    * rank: every wedge is enumerated at its lowest-degree apex, which
    * bounds per-vertex wedge fan-out by oriented out-degree — O(m^1.5)
    * total work, the standard distributed triangle algorithm (a naive
    * id-ordered orientation lets one hub vertex generate O(deg²)
    * wedges; degree ordering is the skew fix). One equi-join builds
    * wedges, one equi-join against the oriented edge set closes them;
    * each triangle surfaces exactly once (unique min-rank apex, the
    * closure edge's orientation fixes the leg order). Returns
    * (id, n_tri); vertices in no triangle are absent.
    */
  def triangleCount(pairs: DataFrame): DataFrame = {
    val canon = canonEdges(pairs).distinct()
    val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").count().withColumnRenamed("count", "deg")
    val oriented = canon
      .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
      .select(when(
          struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          struct(col("a").as("s"), col("b").as("t")))
        .otherwise(struct(col("b").as("s"), col("a").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val o2 = oriented.select(col("s").as("s2"), col("t").as("t2"))
    val wedges = oriented.withColumnRenamed("t", "t1")
      .join(o2, col("s") === col("s2") && col("t1") =!= col("t2"))
      .drop("s2")
    val closing = oriented.select(col("s").as("c1"), col("t").as("c2"))
    val tris = wedges
      .join(closing, col("t1") === col("c1") && col("t2") === col("c2"))
      .select(col("s"), col("t1"), col("t2"))
    tris.select(explode(array(col("s"), col("t1"), col("t2"))).as("id"))
      .groupBy("id").count().withColumnRenamed("count", "n_tri")
  }

  /** k-core: the maximal subgraph in which every vertex keeps degree
    * >= k, found by iterative peeling — each round drops all vertices
    * whose CURRENT degree is below k and re-derives degrees from the
    * surviving edge set (removals cascade). A DataFrame loop like
    * Algo's BFS: one distinct + aggregation + two semi-joins per
    * round, lineage bounded by localCheckpoint; rounds are bounded by
    * the peeling depth (worst case O(V) on a path, typically a handful
    * on real topologies). Input (u, v) undirected; returns surviving
    * (id, deg) with deg = degree inside the core.
    */
  def kCore(pairs: DataFrame, k: Int): DataFrame = {
    var edges = canonEdges(pairs).distinct().localCheckpoint(true)
    var done = false
    var rounds = 0
    var deg: DataFrame = null
    val maxRounds = 4096 // pathological chains peel O(V) rounds; fail
    // loudly rather than return a stale (non-core) degree set
    while (!done && rounds < maxRounds) {
      // the victim count rides the degree checkpoint: the round's stop
      // test costs no action of its own
      val (d, nVictims) = GraphCatalog.checkpointCounted(
        edges.select(explode(array(col("a"), col("b"))).as("id"))
          .groupBy("id").count().withColumnRenamed("count", "deg"),
        where = col("deg") < k)
      deg = d
      val victims = deg.where(col("deg") < k).select("id")
      if (nVictims == 0L) done = true
      else {
        // cadence settled by interleaved A/B (r15): skipping this
        // checkpoint on odd rounds measured a null result twice
        // (min 1.47/1.44 vs 1.54/1.46, medians the other way), and
        // per-round materialization keeps lineage depth O(1) at any
        // peeling depth — the 100-TB-safe default stays
        edges = edges
          .join(victims, edges("a") === victims("id"), "left_anti")
          .join(victims, edges("b") === victims("id"), "left_anti")
          .localCheckpoint(true)
        rounds += 1
      }
    }
    if (!done) throw new IllegalStateException(
      s"kCore(k=$k) did not converge within $maxRounds peeling rounds")
    deg
  }

  /** Synchronous label propagation (community detection): labels start
    * as vertex ids; each round every vertex simultaneously adopts the
    * most frequent label among its neighbors' PREVIOUS-round labels,
    * ties broken by smallest label — the deterministic sync variant
    * (async LPA is order-dependent; sync with a fixed iteration count
    * is exactly recomputable by an oracle, at the cost of possible
    * 2-cycles on bipartite structures, which the fixed count also
    * bounds). Per round: one hash join carries neighbor labels, one
    * aggregation takes mode-with-tiebreak via min_by over
    * (-count, label) — partial aggregation combines map-side, no
    * window sort, labels-only shuffles. Input (u, v) undirected;
    * returns (id, label).
    */
  def labelPropagation(pairs: DataFrame, iters: Int): DataFrame = {
    val dir = bothWays(pairs)
    var labels = dir.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val nbr = dir.join(labels, dir("b") === labels("id"))
        .groupBy(dir("a"), labels("label")).count()
      labels = nbr.groupBy(col("a").as("id"))
        .agg(min_by(col("label"), struct((-col("count")).as("nc"),
          col("label").as("lb"))).as("label"))
        .localCheckpoint(true)
      i += 1
    }
    labels
  }

  /** HITS hubs & authorities, fixed iteration count, UNNORMALIZED —
    * dropping the per-round L2 normalization keeps every score an
    * exact integer (auth = sum of in-neighbor hubs, hub = sum of
    * out-neighbor auths, from hub_0 = 1), so a SQL oracle can unroll
    * the rounds as CTEs and hash-match bit-for-bit where float
    * normalization would drift by libm ulps. Rankings are identical
    * to normalized HITS (normalization is a positive scalar per
    * round); callers wanting [0,1] scores divide by the max at the
    * end. Per round: two hash joins + two map-side-combinable sums,
    * (id, score) shuffles only — the same shape at 10^9 edges.
    * Magnitudes grow like maxdeg^(2·iters); iters is the caller's
    * overflow budget (long holds iters=2 up to ~10^4 average degree).
    * Input (src, dst) directed; returns (id, hub, auth) for every
    * vertex, 0 where a vertex has no out/in edges.
    */
  def hits(edgesDf: DataFrame, iters: Int): DataFrame = {
    val e = edgesDf
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    var hub = e.select(col("src").as("id")).distinct()
      .withColumn("score", lit(1L))
    var auth: DataFrame = null
    var i = 0
    while (i < iters) {
      auth = e.join(hub.withColumnRenamed("id", "__sid"),
          e("src") === col("__sid"))
        .groupBy(col("dst").as("id")).agg(sum("score").as("score"))
      hub = e.join(auth.withColumnRenamed("id", "__did")
            .withColumnRenamed("score", "__as"),
          e("dst") === col("__did"))
        .groupBy(col("src").as("id")).agg(sum("__as").as("score"))
      i += 1
    }
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct()
    verts
      .join(hub.withColumnRenamed("score", "hub"), Seq("id"), "left")
      .join(auth.withColumnRenamed("score", "auth"), Seq("id"), "left")
      .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }

  /** All-pairs BFS distances over an undirected pair relation (u, v),
    * depth-capped: a MULTI-SOURCE frontier loop — every vertex is a
    * source simultaneously, so one round of (frontier ⋈ edges) expands
    * ALL sources' level-k frontiers at once (the per-source loop would
    * pay the join latency V times; this pays it diameter times). The
    * frontier carries (s, v) pairs only; the visited set prunes
    * re-expansion per source, lineage is bounded by localCheckpoint —
    * the same loop discipline as Algo's BFS. O(V·E) total like any
    * exact APSP; the depth cap bounds it for large diameters. Returns
    * (s, v, dist) for s ≠ v with dist ≤ maxDepth.
    */
  def allPairsDistances(pairs: DataFrame, maxDepth: Int): DataFrame =
    multiSourceDistances(pairs, maxDepth, lit(true))

  /** The source-restricted form of [[allPairsDistances]]: BFS only from
    * vertices passing `sourceFilter` (over column "s"). Cost O(K·E) for
    * K sources instead of O(V·E) — the knob that keeps distance-based
    * centralities alive past the first scale decade (the exact
    * all-sources form holds a (sources x reach-set) pair state that
    * grows quadratically on hub graphs; the sf10 probe measured it
    * exhausting execution memory at 100x while the sampled form holds).
    */
  def multiSourceDistances(pairs: DataFrame, maxDepth: Int,
      sourceFilter: Column): DataFrame = {
    val dir = bothWays(pairs)
    frontierClosure(dir, sources(dir, sourceFilter), maxDepth,
      depth => s"the exact multi-source distance closure (round $depth)",
      "the fixed-source-count form — GraphAnalytics.closenessSampledK " +
      "(p118 shape, the 100-TB default: work " + "∝" + " k·E, " +
      "three-decade-measured), the rate-sampled contrast twin " +
      "closenessSampled (p117 shape), or a sourceFilter restricting " +
      "BFS sources")(
      _.select(col("s"), col("b").as("v")).distinct())._2
  }

  /** Closeness centrality (unnormalized, component-safe): per vertex
    * the reachable-vertex count and the exact integer distance sum
    * within the depth cap — the (n_reach, sum_dist) pair IS the
    * harmonic/closeness numerator without the float division, so the
    * oracle gates it bit-for-bit; callers divide at the end.
    */
  def closeness(pairs: DataFrame, maxDepth: Int): DataFrame =
    allPairsDistances(pairs, maxDepth)
      .groupBy(col("s").as("id"))
      .agg(count(lit(1)).as("n_reach"), sum("dist").as("sum_dist"))

  /** Sampled closeness — the 100-TB form of [[closeness]]: BFS from a
    * deterministic ~1/mod sample of vertices (id % mod == 0) and
    * estimate EVERY vertex's closeness from the distances of the
    * sampled sources that reach it (undirected distances are
    * symmetric, so d(s,v) stands in for d(v,s)). The standard
    * Eppstein-Wang style estimator: cost O((V/mod)·E) and the pair
    * state shrinks by the same factor — the exact form's
    * (sources x reach-set) state is what dies at the second scale
    * decade (sf10 probe: exact p57 exhausted execution memory at 100x;
    * this form is the documented crossover). Integer (n_src, sum_dist)
    * so the oracle gates it exactly; callers divide at the end.
    */
  def closenessSampled(pairs: DataFrame, maxDepth: Int, mod: Long): DataFrame =
    multiSourceDistances(pairs, maxDepth, pmod(col("s"), lit(mod)) === 0)
      .groupBy(col("v").as("id"))
      .agg(count(lit(1)).as("n_src"), sum("dist").as("sum_dist"))

  /** Fixed-source-COUNT sampled closeness — the documented 100-TB
    * default. [[closenessSampled]] fixes the sample RATE (constant
    * mod), so the source count grows ∝ V and total work ∝ V·E/mod —
    * still superlinear in data. This form fixes the source COUNT:
    * mod = max(1, V/k) computed from one vertex-count aggregate, so
    * ~k BFS sources regardless of scale and total work ∝ k·E —
    * strictly linear in the data, the estimator variance the only
    * thing that changes with scale (Eppstein-Wang: error bounds
    * depend on sample COUNT, which is exactly what is held fixed).
    */
  def closenessSampledK(pairs: DataFrame, maxDepth: Int, k: Long): DataFrame =
    closenessSampled(pairs, maxDepth, sampleMod(pairs, k))

  /** Strongly connected components by mutual reachability: one
    * multi-source DIRECTED reachability closure (the allPairsDistances
    * frontier discipline — (s,v) pairs only, visited anti-join
    * pruning, checkpoint-bounded lineage), then scc(v) = min{u : u⇝v
    * and v⇝u} via a self-join of the closure against its swap. Exact;
    * like any exact transitive closure it is O(V²) worst-case — the
    * depth cap bounds the loop, and the practical at-scale use
    * (collapsing cycles in a mostly-DAG link graph) stays near-linear
    * because DAG-part reachability prunes via the visited anti-join.
    * Input (u, v) directed edges; output (vertex, scc) with scc = the
    * component's minimum vertex id.
    */
  def stronglyConnected(edges: DataFrame, maxDepth: Int): DataFrame = {
    val dir = edges.select(col("u").as("a"), col("v").as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val verts = dir.select(col("a").as("x"))
      .unionAll(dir.select(col("b").as("x"))).distinct()
    // the reachability closure is the quadratic structure here
    val (visited, _) = frontierClosure(dir,
      verts.select(col("x").as("s"), col("x").as("v")), maxDepth,
      depth => s"the exact mutual-reachability closure (stronglyConnected, round $depth)",
      "a lower maxDepth cap, or pre-collapsing dense regions " +
      "(label propagation / connected components) before the closure")(
      _.select(col("s"), col("b").as("v")).distinct())
    val swap = visited.select(col("v").as("s2"), col("s").as("v2"))
    visited.join(swap,
        visited("s") === col("s2") && visited("v") === col("v2"))
      .select(col("s").as("vertex"), col("v").as("peer"))
      .groupBy("vertex").agg(min("peer").as("scc"))
  }

  /** All-pairs shortest-path COUNTS (Brandes' sigma), depth-capped:
    * the multi-source frontier additionally carries the number of
    * shortest s⇝v paths — expansions from the level-(d−1) frontier
    * sum their sigmas per (s, target) BEFORE the visited anti-join,
    * which is exactly BFS sigma accumulation (a target first reached
    * at level d collects every level-(d−1) predecessor's count; a
    * same-level edge can't contribute because its endpoint is already
    * in visited). Integer-exact. Returns (s, v, dist, sigma), s ≠ v.
    */
  def shortestPathCounts(pairs: DataFrame, maxDepth: Int): DataFrame =
    shortestPathCounts(pairs, maxDepth, lit(true))

  /** [[shortestPathCounts]] with the BFS source set restricted by
    * `sourceFilter` (a predicate over the source column `s`) — the
    * sampled-source Brandes forward pass: work and pair state scale
    * with the SAMPLED source count, not V, which is what survives the
    * scale decades the exact closure's guard trips on.
    */
  def shortestPathCounts(pairs: DataFrame, maxDepth: Int,
      sourceFilter: Column): DataFrame = {
    val dir = bothWays(pairs)
    frontierClosure(dir, sources(dir, sourceFilter).withColumn("sigma", lit(1L)),
      maxDepth,
      depth => s"the exact shortest-path-count closure (Brandes sigma, round $depth)",
      "the sampled-source form — shortestPathCounts(pairs, depth, " +
      "sourceFilter) / GraphAnalytics.stressCentralitySampled " +
      "(p119 shape) — or a lower maxDepth")(
      _.groupBy(col("s"), col("b").as("v")).agg(sum("sigma").as("sigma")))
      ._2.select("s", "v", "dist", "sigma")
  }

  /** Stress centrality: for every vertex v the number of shortest
    * (s, t) paths passing THROUGH v — the integer-exact member of the
    * betweenness family (betweenness divides by sigma_st; stress
    * doesn't, so the oracle can gate it bit-for-bit). Computed as one
    * self-join of the sigma table: sigma_sv · sigma_vt counts the s⇝t
    * shortest paths through v exactly when d(s,v) + d(v,t) = d(s,t).
    * Ordered (s, t) pairs — undirected callers halve. At scale the
    * sigma table is the expensive artifact (exact APSP is O(V·E));
    * the standard sampled-source variant is this same plan with the
    * source set restricted ([[stressCentralitySampled]]).
    */
  def stressCentrality(pairs: DataFrame, maxDepth: Int): DataFrame =
    sigmaStress(pairs, maxDepth, lit(true),
      "the stress-centrality sigma self-join",
      "the sampled-pair form — GraphAnalytics.stressCentralitySampled " +
      "(p119 shape) — or a lower maxDepth")

  /** Sampled-pair stress centrality — the scale twin the exact form's
    * guard names. Sources are restricted to `s % mod == 0`
    * (deterministic, so the oracle reproduces it bit-for-bit), and the
    * (s, t) pairs counted are the SAMPLED×SAMPLED ordered pairs.
    * stress_sampled(v) counts the shortest paths through v between
    * sampled pairs; the unbiased scale-up to the exact value is
    * ·(V/|S|)² (Brandes-style pair sampling: each ordered pair is
    * included with probability (|S|/V)²). mod = 1 degenerates to
    * exactly [[stressCentrality]], which the spec pins. Work and state
    * are O((V/mod)·E) for the closure and the self-join shrinks by
    * ~mod² — strictly sub-quadratic for mod ∝ √V, linear for mod ∝ V.
    */
  def stressCentralitySampled(pairs: DataFrame, maxDepth: Int,
      mod: Long): DataFrame =
    sigmaStress(pairs, maxDepth, col("s") % mod === 0,
      s"the sampled stress-centrality sigma self-join (mod=$mod)",
      "a larger mod (fewer sampled sources)")

  /** Stress over the sources passing `sourceFilter`, counting the
    * (s, t) pairs with both ends among them: one self-join of the sigma
    * table on the middle vertex. On the undirected graph sigma is
    * symmetric (sigma_vt = sigma_tv), so the second leg reads the same
    * table flipped — no closure from the other end. With every vertex
    * a source the flipped leg is exactly the direct one.
    *
    * The self-join is the same quadratic family as the wedge joins;
    * with both legs the same table its exact pre-prune output is
    * Σ_x nv(x)², which `ScaleGuard.check` gates (naming `what` and
    * `twin`) before committing to the join.
    */
  private def sigmaStress(pairs: DataFrame, maxDepth: Int,
      sourceFilter: Column, what: String, twin: String): DataFrame = {
    val sp = shortestPathCounts(pairs, maxDepth, sourceFilter)
      .localCheckpoint(true)
    val est = sp.groupBy(col("v")).agg(count(lit(1)).as("_nv"))
      .agg(coalesce(sum(col("_nv") * col("_nv")), lit(0L)).as("_e"))
      .first().getLong(0)
    ScaleGuard.check(sp.sparkSession, est, what, twin)
    val sv = sp.select(col("s"), col("v"), col("dist").as("d1"),
      col("sigma").as("g1"))
    val vt = sp.select(col("v").as("v_mid"), col("s").as("t"),
      col("dist").as("d2"), col("sigma").as("g2"))
    val st = sp.select(col("s").as("s3"), col("v").as("t3"),
      col("dist").as("d3"))
    sv.join(vt, sv("v") === vt("v_mid"))
      .where(col("s") =!= col("t"))
      .join(st, col("s") === col("s3") && col("t") === col("t3") &&
        (col("d1") + col("d2")) === col("d3"))
      .groupBy(col("v").as("id"))
      .agg(sum(col("g1") * col("g2")).as("stress"))
  }

  /** Fixed-source-COUNT sampled stress — the strictly-linear 100-TB
    * member of the stress family, the same move [[closenessSampledK]]
    * makes for closeness: [[stressCentralitySampled]] fixes the sample
    * RATE (constant mod → sources ∝ V → forward-pass work ∝ V·E/mod,
    * still superlinear in data), this form fixes the source COUNT
    * (mod = max(1, V/k) from one vertex-count aggregate → ~k sources
    * at every scale → work ∝ k·E, strictly linear; the self-join is
    * ~k²·diameter² rows — constant). Estimator variance depends on the
    * sampled-pair COUNT, which is exactly what is held fixed.
    */
  def stressCentralitySampledK(pairs: DataFrame, maxDepth: Int,
      k: Long): DataFrame =
    stressCentralitySampled(pairs, maxDepth, sampleMod(pairs, k))

  /** Local clustering coefficient, integer-exact: per vertex the
    * closed-triangle count and the wedge count deg·(deg−1)/2 — the
    * coefficient's numerator and denominator WITHOUT the float
    * division, so the oracle gates both exactly; callers divide at
    * the end. Reuses the degree-ordered triangle join (O(m^1.5)) and
    * one degree aggregation; vertices with deg ≥ 2 and no triangle
    * surface with n_tri = 0 via the left join.
    */
  def clusteringCoefficient(pairs: DataFrame): DataFrame = {
    val canon = canonEdges(pairs).distinct().localCheckpoint(true)
    val deg = canon.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").count().withColumnRenamed("count", "deg")
    val tri = triangleCount(
      canon.select(col("a").as("u"), col("b").as("v")))
    deg.where(col("deg") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        (col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedge"))
  }

  /** Deterministic "random" walks (node2vec-style corpus sampling
    * made reproducible): from each source, `steps` transitions where
    * the next hop is the neighbor minimizing a 32-bit md5-derived hash
    * of (source, step, current, neighbor) — pseudo-random per
    * (walk, step) yet bit-reproducible across engines and runs, which
    * is what a training-data pipeline needs from its walk corpus
    * (true RNG walks can't be re-verified or resumed). One hash join +
    * one map-side-combinable min_by per step; walk state is (source,
    * current) pairs only. Walks stop at sinks (no out-neighbor rows
    * simply don't extend). Returns (s, step, v) including step 0.
    */
  def deterministicWalks(pairs: DataFrame, sources: DataFrame,
      steps: Int): DataFrame = {
    val dir = bothWays(pairs)
    var cur = sources.select(col("s").cast("long").as("s"))
      .distinct().withColumn("v", col("s"))
    var out = cur.withColumn("step", lit(0L))
    var t = 0
    while (t < steps) {
      t += 1
      val h = conv(substring(md5(concat_ws("#",
        col("s"), lit(t), col("v"), col("b"))), 1, 8), 16, 10).cast("long")
      cur = cur.join(dir, cur("v") === dir("a"))
        .select(col("s"), col("b"), h.as("h"))
        .groupBy("s")
        .agg(min_by(col("b"), struct(col("h"), col("b"))).as("v"))
      out = out.unionAll(cur.withColumn("step", lit(t.toLong)))
    }
    out.select("s", "step", "v")
  }
}
