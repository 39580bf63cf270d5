package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loud pre-flight guard for the operators whose intermediate state is
  * QUADRATIC in a degree distribution — exact all-pairs distance
  * closures ((sources × reach-set) pair state) and exact wedge
  * self-joins (Σ deg·(deg−1)/2 pairs through each middle vertex).
  *
  * Philosophy: same as the VLE depth cap (`DepthCapSpec`) — a plan
  * that cannot survive the next scale decade must fail FAST and LOUD,
  * naming the shipped scale twin and the override, not burn 15 minutes
  * of cluster time before `UNABLE_TO_ACQUIRE_MEMORY` (measured at the
  * 100× probe: the exact closeness/wedge forms ran 878 s before dying;
  * the estimate below flags them in seconds).
  *
  * The estimate is cheap and runs BEFORE the quadratic join:
  * - wedges: one count-per-middle aggregation over the (already
  *   checkpointed) adjacency — Σ d·(d−1)/2 is the exact self-join
  *   output size;
  * - frontier rounds: Σ over frontier vertices of nf(v)·deg(v) — the
  *   exact pre-prune row count of the round's (frontier ⋈ edges) join,
  *   degree-aware so hub blow-ups are seen (an average-degree estimate
  *   misses exactly the graphs that die).
  *
  * Threshold: `spark.graft.pairState.max` (rows; ≤ 0 disables), default
  * 11 M rows × defaultParallelism. The calibration axis is per-core
  * state, not pool bytes: the measured first-decade-green and
  * second-decade-fatal runs have the SAME rows-per-pool-byte density
  * (p75 sf1: 131 M wedges / 4.6 GB pool, green at 2.5 s; p75 sf10:
  * 1.31 e9 / 47 GB, dead after 878 s), so a pool-proportional cap
  * cannot separate them — per-core state can. 11 M/core leaves ~2.8×
  * margin over the largest measured-green state (p75 sf1 ≈ 4 M/core)
  * and trips the smallest state on a measured-fatal path BEFORE it
  * materializes (p57 sf10's round-2 expansion projects ~12.5 M/core —
  * the exact closeness form's first big round; tripping there is what
  * makes the failure seconds, not minutes of disk-backed state build).
  * On a real cluster the cap scales with total cores, which is how
  * the state actually distributes.
  */
object ScaleGuard {

  /** Row cap for quadratic pair state; ≤ 0 disables the guard. */
  val ConfKey = "spark.graft.pairState.max"

  /** Serialized cost of one cached (long, long) pair-state row:
    * ~16 payload + block/row overhead, plus the same row transiting
    * the round's join and distinct/aggregation maps.
    */
  val BytesPerPair = 48L

  /** Aggregate unified-pool budget: the sum of every block manager's
    * max storage+execution memory (one block manager per executor; in
    * local mode, the driver's).
    */
  def budgetBytes(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum

  /** Resolved row threshold: the session conf (a `-Dspark.graft.*`
    * flag given before the session starts arrives through SparkConf),
    * else 11 M rows per core (see the calibration note in
    * the object doc — per-core state is the axis that separates the
    * measured-green first decade from the measured-fatal second).
    */
  def maxPairRows(spark: SparkSession): Long =
    spark.conf.getOption(ConfKey)
      .map(_.trim.toLong)
      .getOrElse(
        (11L << 20) * math.max(1, spark.sparkContext.defaultParallelism))

  /** Throw the loud guard error when `estRows` exceeds the cap. */
  def check(spark: SparkSession, estRows: Long, what: String,
      twin: String): Unit = {
    val max = maxPairRows(spark)
    if (max > 0 && estRows > max)
      throw new IllegalStateException(
        s"pair-state guard: $what projects ~$estRows quadratic state " +
        s"rows, above $ConfKey = $max (default: 11M rows per core). " +
        "This state exhausts executor memory at scale (measured: the " +
        "exact forms die at " +
        s"the 100x probe). Use the scale twin instead: $twin. To " +
        s"proceed anyway, raise the cap (set $ConfKey to a larger row " +
        "count) or disable it (set it <= 0).")
  }

  /** Exact output size of the wedge self-join `adj ⋈ adj` on
    * `middleCol` with an id-ordered other side: Σ d·(d−1)/2 over
    * middle-vertex degrees. One aggregation over the adjacency.
    */
  def wedgePairs(adj: DataFrame, middleCol: String): Long =
    adj.groupBy(col(middleCol)).agg(count(lit(1)).as("_d"))
      .agg(coalesce(sum(expr("_d * (_d - 1) DIV 2")), lit(0L)).as("_w"))
      .first().getLong(0)

  /** Pre-flight for exact wedge joins (co-occurrence, Adamic-Adar,
    * n-gram Jaccard pair generation): estimate, then [[check]].
    */
  def guardWedges(adj: DataFrame, middleCol: String, what: String,
      twin: String): Unit =
    check(adj.sparkSession, wedgePairs(adj, middleCol), what, twin)

  /** Out-degree table for [[frontierProjection]], keyed `_dv` with
    * count `_deg` — one aggregation over the directed edge list `dir`
    * (keyed on its `a` column), checkpointed because every BFS round
    * re-reads it.
    */
  def degreeTable(dir: DataFrame): DataFrame =
    dir.groupBy(col("a").as("_dv")).agg(count(lit(1)).as("_deg"))
      .localCheckpoint(true)

  /** Exact pre-prune output size of one BFS round's (frontier ⋈ edges)
    * join: Σ_v nf(v)·deg(v) over the frontier's `v` column —
    * degree-aware, so hub blow-ups (the graphs the exact closures die
    * on) are seen where an average-degree estimate is blind. One small
    * aggregation per round, paid BEFORE the join it sizes.
    */
  def frontierProjection(frontier: DataFrame, deg: DataFrame): Long =
    frontier.groupBy(col("v")).agg(count(lit(1)).as("_nf"))
      .join(deg, col("v") === col("_dv"))
      .agg(coalesce(sum(col("_nf") * col("_deg")), lit(0L)).as("_p"))
      .first().getLong(0)

  /** Max vertex degree off [[degreeTable]] — one scalar, computed once
    * per closure so every round's [[guardRound]] upper bound is free.
    */
  def maxDegree(deg: DataFrame): Long =
    deg.agg(coalesce(max(col("_deg")), lit(0L))).first().getLong(0)

  /** Per-round pre-flight with a FREE fast path. Since Σ_v nf(v) =
    * frontierRows, the exact projection Σ nf·deg is bounded above by
    * frontierRows·maxDeg — a driver-side multiply, no Spark job. While
    * even that bound stays under BOTH the guard cap and the auto-disk
    * threshold, the round provably cannot trip either decision, so the
    * exact aggregation is skipped (the measured cost of running it
    * every round at sf0.1 was ~0.1 s × rounds on every frontier
    * query). Only when the bound crosses a line does the round pay the
    * exact degree-aware projection — and then [[check]] runs on the
    * exact number, so the guard never false-trips off the bound.
    * Returns the state estimate (visited + projected) for the round's
    * storage-level pick.
    */
  def guardRound(spark: SparkSession, frontier: DataFrame, deg: DataFrame,
      maxDeg: Long, visitedRows: Long, frontierRows: Long,
      what: String, twin: String): Long = {
    // saturating multiply/add: an extreme hub graph can overflow Long
    // here, and a negative bound would pass both comparisons below —
    // silently skipping the guard in exactly the blow-up case it exists
    // for (r10 ADVICE). Saturated = "definitely over every line", which
    // correctly routes to the exact projection + check.
    val d = math.max(1L, maxDeg)
    val prod =
      if (frontierRows > 0 && frontierRows > Long.MaxValue / d) Long.MaxValue
      else frontierRows * d
    val bound =
      if (visitedRows > Long.MaxValue - prod) Long.MaxValue
      else visitedRows + prod
    val cap = maxPairRows(spark)
    val diskThreshold = budgetBytes(spark) / 4 / BytesPerPair
    if ((cap <= 0 || bound <= cap) && bound <= diskThreshold) bound
    else {
      val est = visitedRows + frontierProjection(frontier, deg)
      check(spark, est, what, twin)
      est
    }
  }
}
