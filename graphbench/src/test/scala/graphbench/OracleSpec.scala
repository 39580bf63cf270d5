package graphbench

import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Every template's oracle agrees with the engine on small generated
  * data, for two rounds of each workload (two parameter draws). */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("graphbench-test").toString
  private lazy val spark: SparkSession = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Main.rmTree(work)
  }

  for (sf <- Seq(0.001, 0.01)) test(s"oracles agree with the engine at sf$sf") {
    val raw = Main.rawTables(spark, s"$work/data", sf, work)
    Data.register(spark, raw)
    for (w <- Workloads.names) {
      val s = Graph.load(spark, raw, s"$work/graph-$w-$sf", Workloads.graphParts(w))
      val ctx = Workloads.Ctx(Data.sizes(sf), s.catalog.label(Graph.name, "customer").get.labid)
      val client = new Main.Client(spark, s)
      val recs = (0 to 1).flatMap(r => Workloads.roundOps(w, 5, r, ctx)).map(client(_))
      val wanted = Check.expectations(spark, recs.filter(_.error.isEmpty).map(_.op))
      val bad = recs.flatMap(r => r.error.orElse(
        Check.verify(r.op, Check.rows(r.rows), r.stats, wanted)).map(why => s"${r.op.template}: $why"))
      assert(bad.isEmpty, s"$w at sf$sf")
    }
  }
}
