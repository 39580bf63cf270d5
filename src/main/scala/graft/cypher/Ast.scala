package graft.cypher

import graft.jsonb.JValue

/** Cypher AST. Shapes mirror the reference's clause/pattern surface
  * (grammar: /root/reference/src/backend/parser/gram.y Cypher rules;
  * clause list parsenodes.h:3854-3868) without copying its parser —
  * this is a clean recursive-descent grammar over the same language.
  */
object Ast {

  // ------------------------------------------------------- expressions
  sealed trait Expr
  final case class Lit(v: JValue) extends Expr
  final case class Param(name: String) extends Expr
  final case class Vbl(name: String) extends Expr
  final case class Prop(base: Expr, key: String) extends Expr
  final case class Index(base: Expr, idx: Expr) extends Expr
  final case class Slice(base: Expr, from: Option[Expr], to: Option[Expr]) extends Expr
  final case class ListExpr(items: Seq[Expr]) extends Expr
  final case class MapExpr(fields: Seq[(String, Expr)]) extends Expr
  final case class BinOp(op: String, l: Expr, r: Expr) extends Expr // + - * / % ^
  final case class UnaryOp(op: String, e: Expr) extends Expr        // +x -x
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr   // = <> < > <= >=
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  final case class StrPred(op: String, l: Expr, r: Expr) extends Expr // startswith endswith contains regex
  final case class InList(e: Expr, list: Expr, negated: Boolean) extends Expr
  final case class FnCall(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  case object CountStar extends Expr
  final case class CaseExpr(operand: Option[Expr], whens: Seq[(Expr, Expr)],
      els: Option[Expr]) extends Expr
  /** [x IN xs WHERE p | f] */
  // all/any/none/single(x IN list WHERE pred) — cypher_dml2.sql list
  // predicates
  final case class ListPred(op: String, variable: String, list: Expr,
      where: Expr) extends Expr
  final case class ListComp(variable: String, list: Expr, where: Option[Expr],
      proj: Option[Expr]) extends Expr
  /** shortestpath((a)-[:t*..n]->(b)) / allshortestpaths used as expression */
  final case class ShortestPathExpr(all: Boolean, path: PathPattern) extends Expr
  // exists((n)-[:t]->()) pattern predicate (cypher_dml2.sql exists(..))
  final case class ExistsPattern(path: PathPattern) extends Expr
  // size((n)-[:t]->()) pattern-match count (cypher_dml.sql SIZE section)
  final case class SizePattern(path: PathPattern) extends Expr
  /** Scalar SQL subquery as a Cypher primary expression —
    * `{year: (SELECT year FROM history WHERE event = 'Graph')}`
    * (reference parse_cypher_expr.c; cypher_dml.sql:50-52). Carries
    * the re-rendered SQL text; evaluated once per statement (PG
    * evaluates the uncorrelated sublink once per execution too).
    */
  final case class SqlSubquery(sql: String) extends Expr

  /** Direct sub-expressions in field order — the one place that knows
    * each constructor's shape (the reference's expression_tree_walker,
    * nodeFuncs.c). No wildcard: a new constructor must be added here.
    * Pattern-carrying leaves have no children; a walker that looks
    * into their patterns matches them itself.
    */
  def children(e: Expr): Seq[Expr] = e match {
    case Lit(_) | Param(_) | Vbl(_) | CountStar => Nil
    case ShortestPathExpr(_, _) | ExistsPattern(_) | SizePattern(_) | SqlSubquery(_) => Nil
    case Prop(b, _) => Seq(b)
    case Index(b, i) => Seq(b, i)
    case Slice(b, f, t) => b +: (f.toSeq ++ t)
    case ListExpr(items) => items
    case MapExpr(fields) => fields.map(_._2)
    case BinOp(_, l, r) => Seq(l, r)
    case UnaryOp(_, x) => Seq(x)
    case Cmp(_, l, r) => Seq(l, r)
    case And(l, r) => Seq(l, r)
    case Or(l, r) => Seq(l, r)
    case Not(x) => Seq(x)
    case IsNull(x, _) => Seq(x)
    case StrPred(_, l, r) => Seq(l, r)
    case InList(x, l, _) => Seq(x, l)
    case FnCall(_, args, _) => args
    case CaseExpr(o, ws, el) => o.toSeq ++ ws.flatMap { case (w, t) => Seq(w, t) } ++ el
    case ListPred(_, _, l, w) => Seq(l, w)
    case ListComp(_, l, w, p) => l +: (w.toSeq ++ p)
  }

  /** `e` with `f` applied to each direct sub-expression, left to right
    * in field order (callers that bind state per node rely on it) —
    * the expression_tree_mutator counterpart of [[children]].
    */
  def mapChildren(e: Expr)(f: Expr => Expr): Expr = e match {
    case Lit(_) | Param(_) | Vbl(_) | CountStar => e
    case ShortestPathExpr(_, _) | ExistsPattern(_) | SizePattern(_) | SqlSubquery(_) => e
    case Prop(b, k) => Prop(f(b), k)
    case Index(b, i) => Index(f(b), f(i))
    case Slice(b, fr, t) => Slice(f(b), fr.map(f), t.map(f))
    case ListExpr(items) => ListExpr(items.map(f))
    case MapExpr(fields) => MapExpr(fields.map { case (k, v) => (k, f(v)) })
    case BinOp(op, l, r) => BinOp(op, f(l), f(r))
    case UnaryOp(op, x) => UnaryOp(op, f(x))
    case Cmp(op, l, r) => Cmp(op, f(l), f(r))
    case And(l, r) => And(f(l), f(r))
    case Or(l, r) => Or(f(l), f(r))
    case Not(x) => Not(f(x))
    case IsNull(x, n) => IsNull(f(x), n)
    case StrPred(op, l, r) => StrPred(op, f(l), f(r))
    case InList(x, l, n) => InList(f(x), f(l), n)
    case FnCall(n, args, d) => FnCall(n, args.map(f), d)
    case CaseExpr(o, ws, el) =>
      CaseExpr(o.map(f), ws.map { case (w, t) => (f(w), f(t)) }, el.map(f))
    case ListPred(op, v, l, w) => ListPred(op, v, f(l), f(w))
    case ListComp(v, l, w, p) => ListComp(v, f(l), w.map(f), p.map(f))
  }

  /** Every name an expression could reference, in first-occurrence
    * order: each `Vbl`, plus what [[patternRefNames]] finds in the
    * patterns of exists()/size()/shortestpath(). Lambda variables are
    * included — callers treat over-collection as the safe direction.
    */
  def refNames(e: Expr): Seq[String] = (e match {
    case Vbl(n) => Seq(n)
    case ShortestPathExpr(_, p) => patternRefNames(p)
    case ExistsPattern(p) => patternRefNames(p)
    case SizePattern(p) => patternRefNames(p)
    case x => children(x).flatMap(refNames)
  }).distinct

  /** A pattern's variables and the names its property maps and
    * dijkstra weight/qual reference, in pattern order. */
  def patternRefNames(p: PathPattern): Seq[String] = {
    val elems = (p.head.variable, p.head.props) +: p.tail.flatMap { case (r, n) =>
      Seq((r.variable, r.props), (n.variable, n.props)) }
    val finder = p.finder match {
      case PathFinder.Dijkstra(w, q, _) => w +: q.toSeq
      case _ => Nil
    }
    (p.variable.toSeq ++ elems.flatMap { case (v, props) =>
      v.toSeq ++ props.toSeq.flatMap(refNames) } ++ finder.flatMap(refNames)).distinct
  }

  /** The operands of a top-level AND chain, left to right. */
  def conjuncts(e: Expr): Seq[Expr] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  // ---------------------------------------------------------- patterns
  /** direction: -1 = <-, 0 = undirected, 1 = -> */
  final case class NodePattern(variable: Option[String], label: Option[String],
      only: Boolean, props: Option[Expr])
  final case class RelPattern(variable: Option[String], types: Seq[String],
      direction: Int, varLength: Option[(Option[Long], Option[Long])],
      props: Option[Expr], only: Boolean = false)
  final case class PathPattern(variable: Option[String],
      head: NodePattern, tail: Seq[(RelPattern, NodePattern)],
      finder: PathFinder = PathFinder.None) {
    /** Path variable, head, then each relationship and node, in
      * pattern order. */
    def varNames: Seq[String] = variable.toSeq ++ head.variable ++
      tail.flatMap { case (r, n) => r.variable ++ n.variable }
  }

  sealed trait PathFinder
  object PathFinder {
    case object None extends PathFinder
    case object Shortest extends PathFinder
    case object AllShortest extends PathFinder
    /** dijkstra((a)-[e]->(b), weight [WHERE qual] [LIMIT k]) */
    final case class Dijkstra(weight: Expr, qual: Option[Expr], limit: Option[Long]) extends PathFinder
  }

  // ----------------------------------------------------------- clauses
  sealed trait Clause
  final case class Match(paths: Seq[PathPattern], optional: Boolean,
      where: Option[Expr]) extends Clause
  final case class Unwind(expr: Expr, as: String) extends Clause
  final case class Projection(
      isReturn: Boolean, // RETURN vs WITH
      distinct: Boolean,
      items: Seq[(Expr, Option[String])],
      star: Boolean,
      orderBy: Seq[(Expr, Boolean /*asc*/)],
      skip: Option[Expr], limit: Option[Expr],
      where: Option[Expr]) extends Clause
  final case class CreateClause(paths: Seq[PathPattern]) extends Clause
  final case class DeleteClause(exprs: Seq[Expr], detach: Boolean) extends Clause
  sealed trait SetItem
  /** SET a.k = expr */
  final case class SetProp(target: Expr, value: Expr) extends SetItem
  /** SET a = expr / SET a += expr */
  final case class SetMap(variable: String, value: Expr, add: Boolean) extends SetItem
  /** REMOVE a.k */
  final case class RemoveProp(target: Expr) extends SetItem
  final case class SetClause(items: Seq[SetItem]) extends Clause
  final case class MergeClause(path: PathPattern, onCreate: Seq[SetItem],
      onMatch: Seq[SetItem]) extends Clause
  /** LOAD FROM table AS v (gram.y:19156-19170) */
  final case class LoadClause(table: String, as: String) extends Clause

  // ------------------------------------------------------------- query
  /** A single statement: clause chain, possibly set-op-combined. */
  final case class SingleQuery(clauses: Seq[Clause])
  final case class Query(first: SingleQuery,
      setOps: Seq[(String, SingleQuery)]) // op: "union" | "union all" | "intersect" | "except"
}
