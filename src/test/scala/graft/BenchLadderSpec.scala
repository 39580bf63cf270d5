package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import org.scalatest.funsuite.AnyFunSuite

/** The probe ladder of graft.Bench, end to end at the smallest scale:
  * K = 2 over sf0.001, one graph query and one relational query.
  */
class BenchLadderSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val (g, q) = ("g01_match_agg", "q01_filter_project")
  private lazy val out = Files.createTempDirectory("graft_bench_boards")
  private lazy val (file, key) = Bench.board(sfDir, 2)

  private def ladderDirs(): Set[String] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_ladder_")).toSet
    finally s.close()
  }

  // the denominators: each query's steady time on the input, after one
  // untimed run
  private lazy val den = Seq(g, q).map { n =>
    Bench.runQuery(spark, n, sfDir)
    n -> Bench.runQuery(spark, n, sfDir).sec
  }.toMap
  private lazy val before = { den; ladderDirs() }
  private lazy val first = { before; Bench.ladder(spark, sfDir, 2, Seq(g, q), den, out.toString, 4) }

  private def boardRows(): Map[String, JsonNode] =
    // exact decimals: a row reads back as the text the board holds
    new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
      .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)
      .readTree(out.resolve(file).toFile).get(key)
      .properties.asScala.map(e => e.getKey -> e.getValue).toMap

  test("the board is named by the replica's scale") {
    assert(Bench.board("testdata/sf0.1", 10) == ("bench_sf1.json", "sf1_probe_10x"))
    assert(Bench.board("testdata/sf0.1", 100) == ("bench_sf10.json", "sf10_probe_100x"))
    assert(Bench.board("testdata/sf0.01", 2) == ("bench_sf0.02.json", "sf0.02_probe_2x"))
    assert(Bench.board("testdata/sf0.01", 3) == ("bench_sf0.03.json", "sf0.03_probe_3x"))
    assert((file, key) == ("bench_sf0.002.json", "sf0.002_probe_2x"))
  }

  test("K = 2: every probe row has a positive sec and a ratio") {
    assert(first.rows.map(_._1).toSet == Set(g, q))
    first.rows.foreach { case (n, r) =>
      assert(r.path("sec").asDouble > 0, s"$n: $r")
      assert(r.has("ratio"), s"$n: $r")
      assert(r.path("protocol").asText.matches("min[2-4]-warm"), s"$n: $r")
    }
    assert(boardRows().keySet == Set(g, q))
    // the summary counts the rows per protocol
    val protocols = first.summary.get("protocols")
    assert(protocols != null, first.summary.toString)
    assert(protocols.properties.asScala.map(_.getValue.asInt).sum == 2, protocols.toString)
    assert(protocols.fieldNames.asScala.forall(_.matches("min[2-4]-warm")), protocols.toString)
  }

  test("K = 2: the replica directory is gone after the ladder") {
    first
    assert(ladderDirs() == before)
  }

  test("a rerun over one of the names keeps the other row in the merged board") {
    first
    val old = boardRows()
    val again = Bench.ladder(spark, sfDir, 2, Seq(q), den, out.toString, 4)
    assert(again.rows.map(_._1) == Seq(q))
    val now = boardRows()
    assert(now.keySet == Set(g, q))
    assert(now(g) == old(g))
    assert(now(q).toString == again.rows.head._2.toString)
  }

  test("an unparseable board is left byte-identical") {
    first
    val board = out.resolve(file)
    val text = s"""{"$key": {"$g": {"sec": 1.00}"""
    Files.writeString(board, text)
    Bench.ladder(spark, sfDir, 2, Seq(q), den, out.toString, 4)
    assert(Files.readString(board) == text)
    // this run's rows go to a side file instead
    assert(Files.readString(out.resolve(s"$file.unmerged")).contains(q))
  }
}
