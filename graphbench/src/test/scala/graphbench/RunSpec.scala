package graphbench

import java.io.File
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** End to end through run.py at a tiny scale: one result line, and no
  * scratch directory left behind (neither the run's own nor a temp
  * directory of the engine). */
class RunSpec extends AnyFunSuite {
  private val bench = new File(sys.props("user.dir"))
  private def entries(d: File): Set[String] = Option(d.list).map(_.toSet).getOrElse(Set.empty)

  test("a run prints its result and removes its scratch directories") {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val (workBefore, tmpBefore) = (entries(new File(bench, "work")), entries(tmp))
    val out = Process(Seq("python3", "run.py", "--workload", "write_mix", "--seed", "3",
      "--seconds", "1", "--trace", "1", "--sf", "0.001"), bench).!!(ProcessLogger(_ => ()))
    val last = out.trim.linesIterator.toSeq.last
    assert(last.startsWith("{") && last.contains("\"correct\": true"), last)
    assert(entries(new File(bench, "work")) == workBefore)
    assert((entries(tmp) -- tmpBefore).filter(_.startsWith("graft")).isEmpty)
  }
}
