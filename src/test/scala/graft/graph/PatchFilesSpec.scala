package graft.graph

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import graft.api.CypherSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-pruned point writes: `GraphCatalog.patchFiles` must rewrite
  * ONLY the parquet files whose id range holds a victim — every other
  * file of the label survives byte-identical (kept by rename, not
  * rewritten), which is what bounds SET/DELETE cost by touched files
  * instead of label size at scale.
  */
class PatchFilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def md5s(dir: Path): Map[String, String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { p =>
        val d = MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
        p.getFileName.toString -> d.map("%02x".format(_)).mkString
      }.toMap
    finally s.close()
  }

  private def freshLabel(): (GraphCatalog, Path, Long) = {
    val root = Files.createTempDirectory("graft_patch")
    val cat = new GraphCatalog(spark, root.toString)
    cat.createGraph("pg")
    cat.createLabel("pg", "big", 'v', Nil)
    val labid = cat.label("pg", "big").get.labid
    val base = GraphId.pack(labid, 0L)
    // 4 range-partitioned files over ids 0..399 (the bulk-load layout)
    val df = spark.range(0, 400)
      .select((lit(base) + col("id")).as("id"),
        concat(lit("{\"x\": "), col("id"), lit("}")).as("properties"))
      .repartitionByRange(4, col("id"))
    cat.append("pg", "big", df)
    (cat, Paths.get(root.toString, "pg", "big"), base)
  }

  test("selective SET rewrites only id-range-hit files; rest byte-identical") {
    val (cat, dir, base) = freshLabel()
    val before = md5s(dir)
    assert(before.size == 4, s"expected 4 files, got ${before.keySet}")

    // victims: two ids inside the FIRST range partition (0..99)
    val victims = spark.range(0, 2).select((lit(base) + col("id") * 7).as("id"))
    val (nBefore, nAfter) = cat.patchFiles("pg", "big", victims) { cur =>
      cur.join(victims.withColumn("__hit", lit(true)), Seq("id"), "left")
        .withColumn("properties",
          when(col("__hit"), lit("{\"x\": -1}")).otherwise(col("properties")))
        .drop("__hit")
    }
    assert(nBefore == nAfter)

    val after = md5s(dir)
    val changed = before.keySet.filter(k => !after.get(k).contains(before(k)))
    val kept = before.keySet.filter(k => after.get(k).contains(before(k)))
    assert(changed.size == 1, s"exactly one file should be rewritten: $changed")
    assert(kept.size == 3, s"three files must survive byte-identical: $kept")

    // semantics: the two victims changed, everything else intact
    val scan = cat.scanOnly("pg", "big")
    assert(scan.count() == 400)
    assert(scan.where(col("properties") === "{\"x\": -1}").count() == 2)
    assert(scan.where(col("properties").startsWith("{\"x\": ")).count() == 400)
  }

  test("selective DELETE counts removals from touched files only") {
    val (cat, dir, base) = freshLabel()
    val before = md5s(dir)
    // victims: 5 ids in the LAST range partition
    val victims = spark.range(395, 400).select((lit(base) + col("id")).as("id"))
    val (nBefore, nAfter) = cat.patchFiles("pg", "big", victims) { cur =>
      cur.join(victims, Seq("id"), "left_anti")
    }
    assert(nBefore - nAfter == 5)
    val after = md5s(dir)
    assert(before.keySet.count(k => after.get(k).contains(before(k))) == 3)
    assert(cat.scanOnly("pg", "big").count() == 395)
  }

  test("no victims in range -> nothing rewritten") {
    val (cat, dir, base) = freshLabel()
    val before = md5s(dir)
    val victims = spark.range(0, 3).select((lit(base) + col("id") + 100000L).as("id"))
    val (nBefore, nAfter) = cat.patchFiles("pg", "big", victims)(cur => cur)
    assert(nBefore == 0L && nAfter == 0L)
    assert(md5s(dir) == before)
  }

  private def session(graph: String): (CypherSession, Path) = {
    val root = Files.createTempDirectory("graft_patch_cypher")
    val s = new CypherSession(spark, new GraphCatalog(spark, root.toString))
    s.createGraph(graph)
    (s, root.resolve(graph))
  }

  test("reindex records a fresh shred layout and leaves no staging directory") {
    val (s, gdir) = session("pr")
    s.createVLabel("t")
    s.cypher("UNWIND [1, 2, 3] AS i CREATE (:t {x: i})")
    s.cypher("CREATE (:t {x: 4, k: 'gone'})")
    // a patch merges its batch into the layout: k outlives its rows
    s.cypher("MATCH (n:t) WHERE n.k IS NOT NULL DELETE n")
    assert(s.catalog.label("pr", "t").get.shred.contains("k"))
    // the reindex rewrites the whole table: its layout starts over
    s.cypher("CREATE PROPERTY INDEX ON t (x)")
    assert(s.catalog.label("pr", "t").get.shred.keySet == Set("x"))
    assert(s.catalog.scanOnly("pr", "t").count() == 3)
    val left = { val st = Files.list(gdir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_staging_")).toVector
      finally st.close() }
    assert(left.isEmpty, s"staging directories left behind: $left")
  }

  test("a SET whose targets span two labels patches both and counts every update") {
    val (s, _) = session("ps")
    s.createVLabel("p"); s.createVLabel("q")
    s.cypher("UNWIND [1, 2, 3] AS i CREATE (:p {i: i}), (:q {i: i})")
    s.cypher("MATCH (n) WHERE n.i >= 2 SET n.y = 'set'")
    assert(s.lastWriteStats("updatedproperties") == 4)
    for (l <- Seq("p", "q")) {
      val props = s.catalog.scanOnly("ps", l).select("properties")
        .collect().map(_.getString(0)).toSeq
      assert(props.count(_.contains("\"y\": \"set\"")) == 2, s"$l: $props")
      assert(props.size == 3, s"$l: $props")
    }
  }
}
