package graphbench

import org.scalatest.funsuite.AnyFunSuite
import graft.cypher.Parser

class WorkloadsSpec extends AnyFunSuite {
  private val ctx = Workloads.Ctx(Data.sizes(0.1), customerLabid = 3)
  private def texts(w: String, seed: Long): Seq[String] =
    (0 to 3).flatMap(r => Workloads.roundOps(w, seed, r, ctx)).flatMap(o => o +: o.readBack.toSeq).map(_.text)

  for (w <- Workloads.names) {
    test(s"$w: the same seed gives the same op list") {
      assert(texts(w, 7) == texts(w, 7))
    }
    test(s"$w: another seed changes the parameters, not the templates") {
      val (a, b) = (Workloads.roundOps(w, 7, 1, ctx), Workloads.roundOps(w, 8, 1, ctx))
      assert(a.map(_.template) == b.map(_.template))
      assert(a.map(_.text).zip(b.map(_.text)).count { case (x, y) => x != y } >= a.size / 2)
    }
    test(s"$w: every Cypher statement parses") {
      for (r <- 0 to 3; op <- Workloads.roundOps(w, 11, r, ctx); o <- op +: op.readBack.toSeq)
        o.stmt match {
          case Cypher(t, _) => Parser.parse(t)
          case _ =>
        }
    }
  }
}
