package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.api.CypherSession
import graft.graph.GraphCatalog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew-safe frontier expansion (Algo.Expander): on a star graph whose
  * hub degree crosses `spark.graft.skew.hubDegree`, every iterative
  * operator (VLE, shortest path, allshortestpaths, dijkstra) must
  * return row-identical results with salting on, while the hub's
  * adjacency is demonstrably fanned across the salt sub-keys
  * (the mechanism that bounds per-task skew: under hash partitioning,
  * S distinct (key, salt) values spread the hub's expansion product
  * over S tasks instead of one — asserting distinct sub-keys is the
  * local-mode proxy for bounded task time, which a 32-thread test JVM
  * cannot measure meaningfully).
  */
class SkewSaltSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Leaves = 12

  private lazy val catalog: GraphCatalog =
    new GraphCatalog(spark, Files.createTempDirectory("graft_skew").toString)

  private lazy val session: CypherSession = {
    val s = new CypherSession(spark, catalog)
    s.createGraph("skew")
    s.createVLabel("v")
    s.createELabel("e")
    // star: a -> hub -> {12 leaves} -> t   (hub out-degree 12 >= the
    // test threshold 8; everything else degree 1)
    s.cypher("CREATE (:v {n: 0})")
    s.cypher("CREATE (:v {n: 1})")
    s.cypher("CREATE (:v {n: 2})")
    (0 until Leaves).foreach(i => s.cypher(s"CREATE (:v {n: ${100 + i}})"))
    s.cypher("MATCH (a:v {n: 0}), (h:v {n: 1}) CREATE (a)-[:e]->(h)")
    (0 until Leaves).foreach { i =>
      s.cypher(s"MATCH (h:v {n: 1}), (x:v {n: ${100 + i}}) CREATE (h)-[:e]->(x)")
      s.cypher(s"MATCH (x:v {n: ${100 + i}}), (t:v {n: 2}) CREATE (x)-[:e]->(t)")
    }
    s
  }

  private def withSalt[T](saltOn: Boolean)(body: => T): T = {
    if (saltOn) {
      spark.conf.set("spark.graft.skew.salt", "4")
      spark.conf.set("spark.graft.skew.hubDegree", "8")
    }
    try body
    finally if (saltOn) {
      spark.conf.unset("spark.graft.skew.salt")
      spark.conf.unset("spark.graft.skew.hubDegree")
    }
  }

  private def rows(q: String, saltOn: Boolean): Seq[String] = withSalt(saltOn) {
    session.cypher(q).collect().map(_.toString).sorted.toSeq
  }

  private val cases = Seq(
    "vle" ->
      "MATCH (a:v {n: 0})-[es:e*1..3]->(b:v) RETURN b.n AS t, length(es) AS len",
    "shortestpath" ->
      """MATCH p = shortestpath((a:v {n: 0})-[:e*1..4]->(b:v))
        |RETURN b.n AS t, length(p) AS len""".stripMargin,
    "allshortestpaths" ->
      """MATCH p = allshortestpaths((a:v {n: 0})-[:e*1..4]->(b:v {n: 2}))
        |RETURN length(p) AS len, count(*) AS paths""".stripMargin,
    "dijkstra" ->
      """MATCH p = dijkstra((a:v {n: 0})-[e:e]->(b:v {n: 2}), 1)
        |RETURN length(p) AS cost""".stripMargin)

  // every search expands forward from the bound sources ("onesided")
  for ((name, q) <- cases)
    test(s"$name results identical with salting on (onesided)") {
      val off = rows(q, saltOn = false)
      val on = rows(q, saltOn = true)
      assert(off.nonEmpty, "fixture produced no rows")
      assert(on == off, s"salted results diverge:\n on=$on\noff=$off")
    }

  test("hub adjacency fans across salt sub-keys; non-hub rows keep salt 0") {
    withSalt(saltOn = true) {
      val _ = session // force fixture build
      val b = new Builder(spark, catalog, "skew", Map.empty,
        name => spark.table(name))
      val E = b.edgeScan(Seq.empty, 1)
        .select(col("__edge"), col("__s"), col("__e"))
      val ex = new Algo.Expander(spark, E, "__s")
      val salted = ex.salted
      assert(salted.columns.contains("__esalt"), "salt column missing — hub not detected")
      // the hub is the unique max-out-degree vertex
      val hubId = E.groupBy("__s").count()
        .orderBy(desc("count")).first().getLong(0)
      val hubSalts = salted.where(col("__s") === hubId)
        .select("__esalt").distinct().count()
      assert(hubSalts >= 3, s"hub edges landed in only $hubSalts sub-keys of 4")
      val nonHub = salted.where(col("__s") =!= hubId)
        .select("__esalt").distinct().collect().map(_.getInt(0)).toSet
      assert(nonHub == Set(0), s"non-hub rows must keep salt 0, got $nonHub")
    }
  }
}
