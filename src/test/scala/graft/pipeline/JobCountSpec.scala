package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import java.nio.file.Files

import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Spark-job pins for the frontier-loop analytics and the graph writes
  * on small fixed graphs. Each round of a closure is meant to cost one
  * checkpoint (the row count rides it), so a change that adds an
  * action per round or per written label shows up here as a higher
  * count. The pins may only go down: lower
  * them when a change saves jobs, never raise them to make a change
  * pass. Under adaptive execution each shuffle stage of an action is
  * its own job, so one checkpoint costs several jobs.
  */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  // two diamonds joined by a bridge (3-4) plus a tail (7-8): path
  // counts above 1 (sigma(0,7) = 4) and a diameter of 6 (0 to 8)
  private lazy val undirected = {
    import spark.implicits._
    Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 7L), (6L, 7L), (7L, 8L)).toDF("u", "v")
  }

  // a 3-cycle and a 2-cycle joined by a one-way chain
  private lazy val directed = {
    import spark.implicits._
    Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 4L)).toDF("u", "v")
  }

  // the undirected graph's edges directed low to high, weighted, plus a
  // back edge 8 -> 0 that closes a cycle through every vertex
  private lazy val paths = {
    val root = Files.createTempDirectory("graft_job_count").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("jc")
    s.createVLabel("v"); s.createELabel("e")
    (0 to 8).foreach(i => s.cypher(s"CREATE (:v {n: $i})"))
    Seq((0, 1, 1), (0, 2, 2), (1, 3, 2), (2, 3, 1), (3, 4, 1), (4, 5, 3),
      (4, 6, 1), (5, 7, 1), (6, 7, 2), (7, 8, 1), (8, 0, 1)).foreach {
      case (a, bb, w) => s.cypher(s"MATCH (x:v {n: $a}), (y:v {n: $bb}) " +
        s"CREATE (x)-[:e {w: $w}]->(y)")
    }
    s.cypher("MATCH (a:v)-[:e]->(b:v) RETURN count(*) AS c").collect()
    s
  }

  /** (jobs run while building the frame, jobs run while collecting it),
    * counted by a listener that only sees this call's job group.
    */
  private def jobsOf(build: => DataFrame): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val sentinel = group + "-sentinel"
    val seen = Map("build" -> new AtomicInteger, "collect" -> new AtomicInteger,
      "sentinel" -> new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach {
            case g if g == s"$group-build" => seen("build").incrementAndGet()
            case g if g == s"$group-collect" => seen("collect").incrementAndGet()
            case g if g == sentinel => seen("sentinel").incrementAndGet()
            case _ =>
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"$group-build", "job-count pin: build")
      val df = build
      sc.setJobGroup(s"$group-collect", "job-count pin: collect")
      df.collect()
      // listener events arrive in order on one queue: once the
      // sentinel job is seen, every earlier job start has been counted
      sc.setJobGroup(sentinel, "job-count pin: sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (seen("sentinel").get == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen("sentinel").get == 1, "listener bus did not drain")
      (seen("build").get, seen("collect").get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("allPairsDistances: job count pinned") {
    val (build, collect) = jobsOf(
      GraphAnalytics.allPairsDistances(undirected, maxDepth = 8))
    info(s"build $build, collect $collect")
    assert((build, collect) == (41, 1))
  }

  test("stronglyConnected: job count pinned") {
    val (build, collect) = jobsOf(
      GraphAnalytics.stronglyConnected(directed, maxDepth = 8))
    info(s"build $build, collect $collect")
    assert((build, collect) == (35, 5))
  }

  test("stressCentrality: job count pinned") {
    val (build, collect) = jobsOf(
      GraphAnalytics.stressCentrality(undirected, maxDepth = 4))
    info(s"build $build, collect $collect")
    assert((build, collect) == (30, 6))
  }

  test("shortestpath onesided: job count pinned") {
    val s = paths
    val (build, collect) = jobsOf(s.cypher(
      """MATCH p = shortestpath((a:v {n: 0})-[:e*]->(b:v {n: 8}))
        |RETURN length(p) AS len""".stripMargin))
    info(s"build $build, collect $collect")
    assert((build, collect) == (42, 3))
  }

  test("kCore k = 2: job count pinned") {
    val (build, collect) = jobsOf(GraphAnalytics.kCore(undirected, 2))
    info(s"build $build, collect $collect")
    assert((build, collect) == (8, 1))
  }

  test("Dedup.clusters (distributed): job count pinned") {
    val (build, collect) = jobsOf(Dedup.clusters(
      undirected.toDF("da", "db"), maxDriverPairs = 0L))
    info(s"build $build, collect $collect")
    assert((build, collect) == (30, 1))
  }

  test("VLE *1..6 (counted levels): job count pinned") {
    val s = paths
    val (build, collect) = jobsOf(s.cypher(
      "MATCH (a:v {n: 0})-[:e*1..6]->(b:v) RETURN b.n AS n"))
    info(s"build $build, collect $collect")
    assert((build, collect) == (14, 3))
  }

  /** A fresh graph per write pin: vertex labels a and b (n = 0..3
    * each) and an r edge from every a to the b with the same n.
    */
  private def writeGraph(): CypherSession = {
    val root = Files.createTempDirectory("graft_job_count_w").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("jw")
    s.createVLabel("a"); s.createVLabel("b"); s.createELabel("r")
    s.cypher("UNWIND [0, 1, 2, 3] AS i CREATE (:a {n: i})-[:r {w: i}]->(:b {n: i})")
    s
  }

  for ((name, stmt, pin) <- Seq(
      ("CREATE of a vertex and an edge",
        "MATCH (x:a {n: 0}) CREATE (x)-[:r {w: 9}]->(:b {n: 9})", (10, 1)),
      ("SET over two labels",
        "MATCH (x) WHERE x.n < 2 SET x.m = 1", (23, 2)),
      ("MERGE with ON CREATE/ON MATCH SET",
        "UNWIND [0, 7] AS k MERGE (x:a {n: k}) ON CREATE SET x.c = 1 ON MATCH SET x.c = 2",
        (30, 2)),
      ("bare vertex MERGE",
        "UNWIND [0, 7] AS k MERGE (x:a {n: k})", (12, 6)),
      ("edge MERGE between bound endpoints",
        "MATCH (x:a), (y:b) WHERE y.n = x.n + 1 MERGE (x)-[:r]->(y)", (14, 6)),
      ("DETACH DELETE of a vertex and its edges",
        "MATCH (x:a {n: 0}) DETACH DELETE x", (24, 1)),
      ("CREATE PROPERTY INDEX (reindex)",
        "CREATE PROPERTY INDEX ON a (n)", (8, 0))))
    test(s"$name: job count pinned") {
      val s = writeGraph()
      val (build, collect) = jobsOf(s.cypher(stmt))
      info(s"build $build, collect $collect")
      assert((build, collect) == pin)
    }

  for ((name, limit) <- Seq(("dijkstra", ""), ("dijkstra LIMIT 2", " LIMIT 2")))
    test(s"$name: job count pinned") {
      val s = paths
      val (build, collect) = jobsOf(s.cypher(
        s"""MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 8}), e.w$limit)
          |RETURN length(p) AS len""".stripMargin))
      info(s"build $build, collect $collect")
      assert((build, collect) == (67, 3))
    }
}
