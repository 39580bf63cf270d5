package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The loud pre-flight pair-state guard (`spark.graft.pairState.max`)
  * — the DepthCap philosophy applied to the quadratic-state operators:
  * an exact wedge join or distance closure whose projected state
  * exceeds the cap fails FAST with an error naming the shipped scale
  * twin (degree-capped wedge / sampled-source closeness) and the
  * override, instead of burning minutes before exhausting executor
  * memory (the measured 100×-probe failure mode). Healthy states never
  * trip the default (unified-pool-derived) cap.
  */
class ScaleGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def withCap[A](rows: Long)(f: => A): A = {
    spark.conf.set(ScaleGuard.ConfKey, rows.toString)
    try f finally spark.conf.unset(ScaleGuard.ConfKey)
  }

  // hub adjacency: one middle every customer shares → 100·99/2 wedges
  private def hubAdj = {
    import spark.implicits._
    (1 to 100).map(c => (c.toLong, 1L)).toDF("c", "p")
  }

  test("wedgePairs is the exact self-join output size") {
    assert(ScaleGuard.wedgePairs(hubAdj, "p") == 100L * 99 / 2)
    assert(ScaleGuard.wedgePairs(hubAdj, "c") == 0L) // all deg-1 middles
    import spark.implicits._
    // mixed degrees: 3·2/2 + 2·1/2 = 4
    val adj = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L))
      .toDF("c", "p")
    assert(ScaleGuard.wedgePairs(adj, "p") == 4L)
  }

  test("wedge guard trips on a hub middle, naming the capped twin + conf") {
    val e = withCap(1000) {
      intercept[IllegalStateException] {
        ScaleGuard.guardWedges(hubAdj, "p",
          what = "the exact Adamic-Adar wedge join (p107 shape)",
          twin = "the degree-capped form p114_aa_degree_capped")
      }
    }
    assert(e.getMessage.contains("p114"), e.getMessage)
    assert(e.getMessage.contains(ScaleGuard.ConfKey), e.getMessage)
    assert(e.getMessage.contains("4950"), e.getMessage)
    // above the projection: silent
    withCap(5000) { ScaleGuard.guardWedges(hubAdj, "p", "w", "t") }
    // <= 0 disables
    withCap(0) { ScaleGuard.guardWedges(hubAdj, "p", "w", "t") }
  }

  // star graph: center 0 — the closure's round-1 projection is
  // degree-aware (Σ nf·deg sees the hub), so the guard trips BEFORE
  // the round's join runs
  private def starPairs(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (0L, i.toLong)).toDF("u", "v")
  }

  test("frontier guard trips pre-join on a hub graph, naming p118 first") {
    // 51 sources over the 50-spoke star: round 1 projects
    // Σ deg = 50 (center) + 50 (spokes) = 100, plus 51 visited
    val e = withCap(120) {
      intercept[IllegalStateException] {
        GraphAnalytics.allPairsDistances(starPairs(50), maxDepth = 2)
          .count()
      }
    }
    // the shipped 100-TB default (fixed-count, p118) leads; the
    // rate-sampled contrast twin (p117) is named second (r12 fence)
    assert(e.getMessage.contains("closenessSampledK"), e.getMessage)
    assert(e.getMessage.contains("closenessSampled"), e.getMessage)
    assert(e.getMessage.indexOf("closenessSampledK") <
      e.getMessage.lastIndexOf("closenessSampled"), e.getMessage)
    assert(e.getMessage.contains(ScaleGuard.ConfKey), e.getMessage)
  }

  test("guard silent above the projection; closure results unchanged") {
    val d = withCap(100000) {
      GraphAnalytics.allPairsDistances(starPairs(4), maxDepth = 2)
        .orderBy("s", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    // spoke→center dist 1, spoke→spoke dist 2: 4 + 4·1 + 4·3 = 20 rows
    assert(d.length == 20)
    assert(d.contains((1L, 0L, 1L)) && d.contains((1L, 2L, 2L)))
    withCap(100000) { assert(ScaleGuard.maxPairRows(spark) == 100000L) }
  }

  test("sampled form passes the cap the exact form trips (the twin works)") {
    withCap(120) {
      // sources restricted to v % 51 == 0 → only the center BFSes:
      // round-1 projection = 1 visited-source + deg(0) = 51 ≤ cap
      val d = GraphAnalytics.closenessSampled(starPairs(50), maxDepth = 2,
        mod = 51).collect()
      assert(d.nonEmpty)
    }
  }

  test("default cap is 11M rows per core (the decade-separating axis)") {
    val m = ScaleGuard.maxPairRows(spark)
    assert(m == (11L << 20) *
      math.max(1, spark.sparkContext.defaultParallelism), s"default: $m")
    // on the bench's own 32-core shape: the largest measured-green
    // state (p75 sf1 wedges, 131M) clears it with ~2.8x margin; the
    // smallest state on a measured-fatal path (p57 sf10 round-2
    // projection: 100k suppliers x deg(nation)=4001 ≈ 4.004e8) and the
    // measured-fatal wedge count (1.31e9) trip it
    val cap32 = (11L << 20) * 32
    assert(131000000L < cap32, "p75 sf1 green")
    assert(400400000L > cap32, "p57 sf10 round-2 trips pre-materialize")
    assert(1310000000L > cap32, "p75 sf10 trips")
  }

  test("guarded exact queries error naming their twin; untripped results unchanged") {
    val d = "/root/testdata/sf0.001"
    val twins = Seq("p57_closeness" -> "p117", "p58_stress" -> "p119",
      "p75_copurchase" -> "p114", "p107_adamic_adar" -> "p114")
    for ((q, twin) <- twins) {
      def run() = PipelineQueries.queries(q)(spark, d).collect()
        .map(_.toString).toSeq
      val exact = run()
      // cap 1 trips the guard: the query errors, it does not degrade
      val e = withCap(1)(intercept[IllegalStateException](run()))
      assert(e.getMessage.contains(twin), s"$q: ${e.getMessage}")
      // a cap the state stays under leaves the exact answer untouched
      assert(withCap(1L << 40)(run()) == exact, q)
    }
  }

  test("guardRound fast-path bound saturates instead of overflowing") {
    import spark.implicits._
    // frontierRows x maxDeg overflows Long: pre-fix the negative bound
    // passed both comparisons and SKIPPED the guard in exactly the
    // blow-up case; post-fix it saturates to MaxValue, falls through to
    // the exact degree-aware projection, and trips the cap
    val frontier = (1 to 100).map(i => (0L, i.toLong)).toDF("s", "v")
    val deg = (1 to 100).map(i => (i.toLong, 5L)).toDF("_dv", "_deg")
    val e = withCap(10) {
      intercept[IllegalStateException] {
        ScaleGuard.guardRound(spark, frontier, deg,
          maxDeg = Long.MaxValue / 2, visitedRows = 3L,
          frontierRows = Long.MaxValue / 2, what = "w", twin = "t")
      }
    }
    // exact Σ nf·deg = 500 plus 3 visited — the message carries the
    // exact projection, proving the fast path was not (silently) taken
    assert(e.getMessage.contains("503"), e.getMessage)
  }

  test("pickLevel: DISK_ONLY past a quarter of the pool, else memory") {
    assert(GraphAnalytics.pickLevel(spark, 1000L) ==
      StorageLevel.MEMORY_AND_DISK)
    val quarter = ScaleGuard.budgetBytes(spark) / 4
    val big = quarter / ScaleGuard.BytesPerPair + 1
    assert(GraphAnalytics.pickLevel(spark, big) == StorageLevel.DISK_ONLY)
    // the manual knob still forces DISK_ONLY for small states
    sys.props("graft.state.disk") = "1"
    try assert(GraphAnalytics.pickLevel(spark, 1L) == StorageLevel.DISK_ONLY)
    finally sys.props.remove("graft.state.disk")
  }
}
