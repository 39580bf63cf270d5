package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Inventory of the engine's user-settable knobs: every `spark.graft.*`
  * conf key, `SPARK_GRAFT_*` environment variable and `graft.*` system
  * property that `src/main` reads must be listed here. A change that
  * adds or retires a knob updates these sets in the same change, so no
  * option appears or disappears unnoticed.
  *
  * Keys are found as whole quoted string literals on code lines (lines
  * starting a comment are skipped); system properties as the first
  * argument of a `sys.props`/`System.getProperty` read. Every
  * environment or system-property read must name its key as a string
  * literal, so no knob hides behind a constant or a computed key.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val confKeys = Set(
    "spark.graft.enableEager",
    "spark.graft.enableMultipleUpdate",
    "spark.graft.gramHash.bits",
    "spark.graft.graphmetaBroadcastRows",
    "spark.graft.graphmetaPlanning",
    "spark.graft.graphmetaRefreshSecs",
    "spark.graft.keyedCorrelation",
    "spark.graft.maxDepth",
    "spark.graft.pairCountRewrite",
    "spark.graft.pairState.fallback",
    "spark.graft.pairState.max",
    "spark.graft.quantileMaxBuckets",
    "spark.graft.skew.hubDegree",
    "spark.graft.skew.salt",
    "spark.graft.topk.partialFlushKeys")

  private val envVars = Set(
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_REPLICA_TABLES",
    "SPARK_GRAFT_SCALE_CORPUS",
    "SPARK_GRAFT_SFK",
    "SPARK_GRAFT_SF_DIR")

  private val sysProps = Set("graft.state.disk")

  private lazy val codeLines: Seq[String] = {
    val root = Paths.get("src", "main")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap((f: Path) => Files.readAllLines(f).asScala)
      .filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
  }

  private def found(pattern: String): Set[String] = {
    val r = pattern.r
    codeLines.flatMap(l => r.findAllMatchIn(l).map(_.group(1))).toSet
  }

  test("spark.graft.* conf keys read in src/main") {
    assert(found("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"") == confKeys)
  }

  test("SPARK_GRAFT_* environment variables read in src/main") {
    assert(found("\"(SPARK_GRAFT_[A-Z0-9_]+)\"") == envVars)
  }

  test("graft.* system properties read in src/main") {
    assert(found("(?:sys\\.props\\.(?:get|getOrElse|contains)|sys\\.props|" +
      "System\\.getProperty)\\(\\s*\"(graft\\.[A-Za-z0-9_.]+)\"") == sysProps)
  }

  test("every environment and system-property read names its key as a string literal") {
    // a read is `sys.env`/`sys.props` applied or queried with a key,
    // or `System.getenv`/`System.getProperty`; anything else on those
    // maps (a whole-map read, a computed key) is flagged
    val read = ("(?:sys\\.(?:env|props)|System\\.get(?:env|Property|Properties))" +
      "(?:\\.(?:getOrElse|get|contains|apply)\\b)?").r
    val literal = "\\s*\\(\\s*\"".r
    val hidden = codeLines.flatMap { l =>
      read.findAllMatchIn(l)
        .filterNot(m => literal.findPrefixOf(l.substring(m.end)).isDefined)
        .map(_ => l.trim)
    }
    assert(hidden.isEmpty, hidden.mkString("\n"))
  }
}
