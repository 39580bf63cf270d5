package graft.cypher

import graft.jsonb.JStr
import org.scalatest.funsuite.AnyFunSuite
import Ast._

/** The expression tree's one child traversal: `children` lists every
  * direct sub-expression in field order and `mapChildren` rebuilds the
  * node around them. Every analysis and rewrite over `Expr` falls back
  * to these two, so this pins each constructor's shape once.
  */
class AstSpec extends AnyFunSuite {
  private val a = Vbl("a"); private val b = Vbl("b"); private val c = Vbl("c")
  private val d = Vbl("d"); private val e = Vbl("e")
  private val path = PathPattern(Some("p"),
    NodePattern(Some("n"), Some("v"), only = false, Some(MapExpr(Seq("k" -> Vbl("x"))))),
    Seq((RelPattern(Some("r"), Seq("t"), 1, None, None),
      NodePattern(Some("m"), None, only = false, None))))

  /** One instance of every constructor, with its direct children. */
  private val cases: Seq[(Expr, Seq[Expr])] = Seq(
    Lit(JStr("s")) -> Nil,
    Param("p") -> Nil,
    a -> Nil,
    CountStar -> Nil,
    ShortestPathExpr(all = false, path) -> Nil,
    ExistsPattern(path) -> Nil,
    SizePattern(path) -> Nil,
    SqlSubquery("SELECT 1") -> Nil,
    Prop(a, "k") -> Seq(a),
    Index(a, b) -> Seq(a, b),
    Slice(a, Some(b), Some(c)) -> Seq(a, b, c),
    Slice(a, None, Some(c)) -> Seq(a, c),
    ListExpr(Seq(a, b, c)) -> Seq(a, b, c),
    MapExpr(Seq("x" -> a, "y" -> b)) -> Seq(a, b),
    BinOp("+", a, b) -> Seq(a, b),
    UnaryOp("-", a) -> Seq(a),
    Cmp("<", a, b) -> Seq(a, b),
    And(a, b) -> Seq(a, b),
    Or(a, b) -> Seq(a, b),
    Not(a) -> Seq(a),
    IsNull(a, negated = true) -> Seq(a),
    StrPred("contains", a, b) -> Seq(a, b),
    InList(a, b, negated = true) -> Seq(a, b),
    FnCall("f", Seq(a, b), distinct = true) -> Seq(a, b),
    CaseExpr(Some(a), Seq(b -> c, d -> e), Some(Vbl("z"))) -> Seq(a, b, c, d, e, Vbl("z")),
    CaseExpr(None, Seq(b -> c), None) -> Seq(b, c),
    ListPred("all", "x", a, b) -> Seq(a, b),
    ListComp("x", a, Some(b), Some(c)) -> Seq(a, b, c),
    ListComp("x", a, None, Some(c)) -> Seq(a, c))

  test("children lists exactly the direct sub-expressions in field order") {
    cases.foreach { case (x, kids) => assert(children(x) == kids, x) }
  }

  test("mapChildren(identity) rebuilds every constructor unchanged") {
    cases.foreach { case (x, _) => assert(mapChildren(x)(identity) == x, x) }
  }

  test("mapChildren visits children left to right and replaces each") {
    cases.foreach { case (x, kids) =>
      val seen = scala.collection.mutable.Buffer.empty[Expr]
      val out = mapChildren(x) { k => seen += k; Lit(JStr(k.toString)) }
      assert(seen == kids, x)
      assert(children(out) == kids.map(k => Lit(JStr(k.toString))), x)
    }
  }

  test("refNames reaches into pattern-carrying leaves; conjuncts flattens AND") {
    assert(path.varNames == Seq("p", "n", "r", "m"))
    assert(patternRefNames(path) == Seq("p", "n", "x", "r", "m"))
    assert(refNames(And(Cmp("=", a, b), ExistsPattern(path))) ==
      Seq("a", "b", "p", "n", "x", "r", "m"))
    val dij = path.copy(finder = PathFinder.Dijkstra(Prop(Vbl("r"), "w"),
      Some(Cmp(">", Vbl("w0"), a)), None))
    assert(patternRefNames(dij) == Seq("p", "n", "x", "r", "m", "w0", "a"))
    assert(conjuncts(And(And(a, Or(b, c)), d)) == Seq(a, Or(b, c), d))
  }
}
