package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.{J, JsonbNormalize}
import graft.graph.{GraphCatalog, GraphId}
import graft.jsonb.{JValue, Jsonb, JStr}
import Ast._
import Kind._

/** Executes a Cypher query as a chain of DataFrame transformations —
  * each clause is DataFrame => DataFrame (SURVEY §3.1), write clauses
  * apply copy-on-write parquet commands at clause boundaries, which
  * yields the reference's eager visibility semantics by construction
  * (SURVEY §2.9 Eager mode).
  */
/** Bound variables in clause order. */
final case class State(df: DataFrame, vars: Vector[(String, Kind)]) {
  def kinds: Map[String, Kind] = vars.toMap
  def has(n: String): Boolean = vars.exists(_._1 == n)
  def add(n: String, k: Kind): State = copy(vars = vars :+ (n -> k))
}

final class Builder(
    val spark: SparkSession,
    val catalog: GraphCatalog,
    val graph: String,
    val params: Map[String, JValue],
    val loadTable: String => DataFrame) {

  private var anonCounter = 0
  private def fresh(prefix: String): String = { anonCounter += 1; s"__${prefix}_$anonCounter" }

  // write statistics (get_last_graph_write_stats(); cypher_funcs.c:1185)
  var insertedVertices = 0L
  var insertedEdges = 0L
  var updatedProperties = 0L
  var deletedVertices = 0L
  var deletedEdges = 0L

  private def labidToName = catalog.labidNames(graph)
  private def labidToLabelsJson: Map[Int, String] =
    catalog.labels(graph).map { lm =>
      lm.labid -> graft.jsonb.JArr(
        catalog.ancestors(graph, lm.name).toVector.map(JStr)).render
    }.toMap

  def compiler(st: State): Compiler =
    new Compiler(st.kinds, params, labidToName, labidToLabelsJson,
      frameCols = st.df.columns.toSet)

  /** Compiler over an explicit kind map but with the SESSION's
    * parameters and labid catalogs — for expression compiles outside a
    * frame (dijkstra weight/qual): `$param` and label()/labels() must
    * resolve there exactly as in any other expression.
    */
  private[cypher] def compilerFor(kinds: Map[String, Kind]): Compiler =
    new Compiler(kinds, params, labidToName, labidToLabelsJson)

  /** Drop shredded property columns from a frame. Required after a
    * write that rewrites properties (SET/MERGE): the sidecars were read
    * from the pre-write files and would serve stale values — downstream
    * property access falls back to the refreshed element structs.
    */
  private[cypher] def dropShredCols(df: DataFrame): DataFrame = {
    val cs = df.columns.filter(c => c.startsWith("__sh") && c.contains('\u0001'))
    if (cs.isEmpty) df else df.drop(cs.toIndexedSeq: _*)
  }

  /** Shred sidecar columns of a label scan, renamed to frame columns
    * scoped by the bound variable (Compiler.shCol) so property access
    * and comparisons on that variable can use them.
    */
  private def shredFrameCols(scanDf: DataFrame, varName: String): Seq[Column] =
    scanDf.columns.toSeq.collect {
      case c if c.startsWith("__pj_") =>
        col(Compiler.q(c)).as(Compiler.shCol("j", varName, c.stripPrefix("__pj_")))
      case c if c.startsWith("__pn_") =>
        col(Compiler.q(c)).as(Compiler.shCol("n", varName, c.stripPrefix("__pn_")))
      case c if c.startsWith("__ps_") =>
        col(Compiler.q(c)).as(Compiler.shCol("s", varName, c.stripPrefix("__ps_")))
    }

  // ================================================================ run

  def run(q: Query): DataFrame = {
    // sublinks evaluate once per STATEMENT (PG semantics) — clear the
    // per-statement memo so a new statement re-evaluates
    Compiler.resetSublinkMemo()
    val first = runSingleState(q.first)
    q.setOps.foldLeft(first) { case (acc, (op, single)) =>
      val rhs = runSingleState(single)
      // set-op DISTINCT semantics compare jsonb columns by jsonb
      // EQUALITY (7 = 7.0), like PG: rows key on memcomparable sort
      // keys for jsonb columns, values themselves otherwise
      val combined = op match {
        case "union"     => setOpDistinct(State(acc.df.union(rhs.df), acc.vars))
        case "union all" => State(acc.df.union(rhs.df), acc.vars)
        case "intersect" => setOpJoin(acc, rhs, "left_semi")
        case "except"    => setOpJoin(acc, rhs, "left_anti")
      }
      combined
    }.df
  }

  def runSingle(sq: SingleQuery): DataFrame = runSingleState(sq).df

  /** EXPLAIN for write statements (the reference EXPLAINs ModifyGraph
    * plans through PG's front door): plan the statement's READ prefix
    * faithfully, describe each write clause — op kind, target labels,
    * victim estimate from planner stats — without applying anything,
    * then append the input frame's physical plan. Clauses after the
    * first write cannot be planned without performing the write, so
    * they are listed descriptively (the reference has the same
    * asymmetry the other way: its ModifyGraph plan nests, but costs
    * below the first write are estimates over unwritten state).
    */
  def explainWrites(q: Query): Seq[String] =
    (q.first +: q.setOps.map(_._2)).zipWithIndex.flatMap { case (sq, i) =>
      (if (i == 0) Seq.empty else Seq(s"-- set-op branch $i --")) ++
        explainWriteSingle(sq)
    }

  private def explainWriteSingle(sq: SingleQuery): Seq[String] = {
    // the reference's EXPLAIN runs assign_query_eager during planning,
    // so a plan execution would reject must error here too
    checkEagerAllowed(sq)
    def nodeDesc(n: NodePattern): String =
      "(" + n.variable.getOrElse("") + n.label.map(":" + _).getOrElse("") +
        (if (n.props.nonEmpty) " {…}" else "") + ")"
    def patternDesc(pp: PathPattern): String = {
      val sb = new StringBuilder(nodeDesc(pp.head))
      pp.tail.foreach { case (r, n) =>
        val t = if (r.types.nonEmpty) ":" + r.types.mkString("|") else ""
        val core = if (r.variable.nonEmpty || t.nonEmpty)
          s"[${r.variable.getOrElse("")}$t]" else ""
        sb ++= (r.direction match {
          case 1 => s"-$core->"
          case -1 => s"<-$core-"
          case _ => s"-$core-"
        })
        sb ++= nodeDesc(n)
      }
      sb.toString
    }
    def exprDesc(e: Expr): String = e match {
      case Vbl(n) => n
      case Prop(b, k) => s"${exprDesc(b)}.$k"
      case other => other.toString.take(60)
    }
    def itemDesc(it: SetItem): String = it match {
      case SetProp(t, _) => s"SET ${exprDesc(t)}"
      case SetMap(v, _, add) => if (add) s"SET $v += {…}" else s"SET $v = {…}"
      case RemoveProp(t) => s"REMOVE ${exprDesc(t)}"
    }
    val init = State(spark.range(1).select(lit(0L).as("__dummy")), Vector.empty)
    var st = init
    var planned = true // still inside the faithfully-planned read prefix
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def estRows: String =
      if (!planned) "unknown (follows a write)"
      else {
        val stats = st.df.queryExecution.optimizedPlan.stats
        stats.rowCount.map(_.toString).getOrElse(
          // without CBO only the size propagates — still a usable
          // magnitude signal for "how big is this write's input"
          s"~${stats.sizeInBytes} bytes")
      }
    sq.clauses.foreach {
      case cc: CreateClause =>
        val vl = cc.paths.flatMap(p =>
          (p.head +: p.tail.map(_._2)).flatMap(_.label)).distinct
        val el = cc.paths.flatMap(_.tail.map(_._1).flatMap(_.types)).distinct
        out += s"ModifyGraph (op=CREATE, vertex_labels=[${vl.mkString(", ")}]" +
          s", edge_labels=[${el.mkString(", ")}], input_rows=$estRows)"
        cc.paths.foreach(p => out += s"  pattern: ${patternDesc(p)}")
        planned = false
      case d: DeleteClause =>
        val op = if (d.detach) "DETACH DELETE" else "DELETE"
        out += s"ModifyGraph (op=$op, targets=[" +
          s"${d.exprs.map(exprDesc).mkString(", ")}], estimated_victims=$estRows)"
        planned = false
      case sc: SetClause =>
        out += s"ModifyGraph (op=SET, items=[" +
          s"${sc.items.map(itemDesc).mkString(", ")}], estimated_victims=$estRows)"
        planned = false
      case mg: MergeClause =>
        out += s"ModifyGraph (op=MERGE, pattern=${patternDesc(mg.path)}" +
          s", on_create=${mg.onCreate.length}, on_match=${mg.onMatch.length}" +
          s", input_rows=$estRows)"
        planned = false
      case r if planned =>
        st = applyClause(st, r)
      case r =>
        out += s"  post-write clause (planned at execution): " +
          r.getClass.getSimpleName.stripSuffix("$")
    }
    out += ""
    out += "Input plan:"
    out ++= st.df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).linesIterator
    out.toSeq
  }

  private def runSingleState(sq: SingleQuery): State = {
    checkEagerAllowed(sq)
    sq.clauses match {
      case Seq(m: Match, p: Projection) =>
        pairCountRewrite(m, p).foreach(st => return st)
      case _ => ()
    }
    val init = State(spark.range(1).select(lit(0L).as("__dummy")), Vector.empty)
    // a bare write query returns its (possibly dummy) frame
    sq.clauses.foldLeft(init)(applyClause)
  }

  /** `enable_eager` GUC surface (guc.c:1165-1172; cypher_eager.sql off
    * matrix). This engine is eager BY CONSTRUCTION — every clause sees
    * the previous clause's writes through copy-on-write frames — so
    * the knob only models the reference's off-mode DIAGNOSTICS: a plan
    * the reference would have to run eagerly is rejected with its
    * error. Per assign_query_eager (parse_graph.c:5598-5655) that is
    * (a) any SET/DELETE/MERGE clause that is not the statement's final
    * clause (`!graph.last && (sets||exprs)`, `writeOp == GWROP_MERGE`),
    * and (b) a final MERGE preceded by another write clause
    * (`nxtQry MERGE && qry CREATE|MERGE`).
    */
  private def checkEagerAllowed(sq: SingleQuery): Unit = {
    if (spark.conf.get("spark.graft.enableEager", "true") != "false") return
    val n = sq.clauses.length
    def isWrite(c: Clause): Boolean = c match {
      case _: CreateClause | _: DeleteClause | _: SetClause |
           _: MergeClause => true
      case _ => false
    }
    val eager = sq.clauses.zipWithIndex.exists {
      case (c, i) if i < n - 1 => c match {
        case _: SetClause | _: DeleteClause | _: MergeClause => true
        case _ => false
      }
      case (_: MergeClause, _) => sq.clauses.dropRight(1).exists(isWrite)
      case _ => false
    }
    if (eager)
      throw new IllegalStateException("eagerness plan is not allowed.")
  }

  /** Count-only pair-pattern rewrite: a symmetric two-hop pattern
    * `(a)-[:t]->(n)<-[:t]-(b)` whose WHERE halves the pairs with
    * `id(a) < id(b)` and whose projection only ever COUNTS the pairs
    * (never touches `b`) does not need the pair join at all. Both
    * endpoints range over the SAME adjacency relation, so for each
    * qualifying `a`-row the number of partners is its suffix count in
    * the per-`n` adjacency ordered by endpoint id — one window over a
    * single scan instead of a per-key quadratic self-join (the
    * reference evaluates the written join, `parse_graph.c:1579`, but
    * is single-node; at cluster scale the pair materialization is the
    * bottleneck, while the window's per-`n` partition is bounded by
    * max degree). Pair multiplicity over multi-edges is preserved:
    * each a-EDGE occurrence counts every b-EDGE occurrence with a
    * strictly greater endpoint id (RANGE frame ⇒ same-id rows, i.e.
    * other edges of `a` itself, are excluded). Rows with suffix 0 are
    * dropped before grouping — the pair join emits no row for an `a`
    * with no greater-id partner, so its keys must not surface.
    */
  private def pairCountRewrite(m: Match, p: Projection): Option[State] = {
    if (spark.conf.get("spark.graft.pairCountRewrite", "true") == "false")
      return None
    if (m.optional || m.paths.length != 1) return None
    val pp = m.paths.head
    if (pp.variable.nonEmpty || pp.finder != PathFinder.None ||
      pp.tail.length != 2) return None
    val aN = pp.head
    val (e1, nN) = pp.tail(0)
    val (e2, bN) = pp.tail(1)
    // the two hops must scan the same adjacency: same types/ONLY, no
    // var-length, both oriented the same way relative to n (a->n and
    // b->n, or a<-n and b<-n, or both undirected), anonymous prop-free
    // edges, and b an exact bare twin of a's label
    if (e1.varLength.nonEmpty || e2.varLength.nonEmpty) return None
    if (e1.direction + e2.direction != 0) return None
    if (e1.types.sorted != e2.types.sorted || e1.only != e2.only) return None
    if (e1.variable.nonEmpty || e2.variable.nonEmpty) return None
    if (e1.props.nonEmpty || e2.props.nonEmpty) return None
    if (bN.only != aN.only || bN.label != aN.label) return None
    val aV = aN.variable.getOrElse(return None)
    val bV = bN.variable.getOrElse(return None)
    if (aV == bV || nN.variable.exists(v => v == aV || v == bV)) return None
    if (nN.props.exists(pe => refNames(pe).exists(v => v == aV || v == bV)))
      return None
    // WHERE: at least one id(a) < id(b) half-pair conjunct
    val cs = m.where.map(conjuncts).getOrElse(Seq.empty)
    def idOf(v: String) = FnCall("id", Seq(Vbl(v)))
    val isHalf: Expr => Boolean = {
      case Cmp("<", l, r) => l == idOf(aV) && r == idOf(bV)
      case Cmp(">", l, r) => l == idOf(bV) && r == idOf(aV)
      case _ => false
    }
    val (half, residual) = cs.partition(isHalf)
    if (half.isEmpty) return None
    if (p.star) return None
    // projection: at least one aggregate, every aggregate a bare
    // count(*) (any other aggregate sees per-pair multiplicities the
    // single-scan form cannot reproduce)
    val aggItems = p.items.filter { case (e, _) => Compiler.hasAgg(e) }
    if (aggItems.isEmpty || !aggItems.forall(_._1 == CountStar)) return None
    val others = p.items.filter { case (e, _) => !Compiler.hasAgg(e) }
    // one endpoint must be an exact bare twin of the other (no props)
    // whose variable nothing outside the pattern references — that
    // endpoint disappears into the window count. Anchor on the OTHER
    // endpoint: anchor = a counts strictly-GREATER-id partners (the
    // suffix), anchor = b the strictly-SMALLER ones (the prefix,
    // canonicalized by flipping the window's ordering) — the mirrored
    // `(a)-…-(b {props})` form rewrites just like the original.
    def refsVar(v: String): Boolean =
      residual.exists(r => refNames(r).contains(v)) ||
        others.exists(i => refNames(i._1).contains(v)) ||
        p.orderBy.exists(o => refNames(o._1).contains(v)) ||
        p.where.exists(w => refNames(w).contains(v)) ||
        aN.props.exists(pe => refNames(pe).contains(v)) ||
        bN.props.exists(pe => refNames(pe).contains(v))
    val anchorIsA =
      if (bN.props.isEmpty && !refsVar(bV)) true
      else if (aN.props.isEmpty && !refsVar(aV)) false
      else return None
    val (anchorN, anchorV) = if (anchorIsA) (aN, aV) else (bN, bV)

    // single unfiltered adjacency scan (x)-[:t]->(n) — both hops scan
    // the SAME adjacency, so the anchor takes either endpoint's seat:
    // the anchor's props and the residual WHERE apply AFTER the
    // window, so the partner count ranges over every candidate twin
    val init = State(spark.range(1).select(lit(0L).as("__dummy")), Vector.empty)
    var st = buildMatch(init, Match(
      Seq(PathPattern(None, anchorN.copy(props = None), Seq((e1, nN)))),
      optional = false, where = None))
    val nName = st.vars.collectFirst {
      case (nm, KV) if nm != anchorV => nm }.getOrElse(return None)
    val aId = col(Compiler.q(anchorV)).getField("id")
    val nId = col(Compiler.q(nName)).getField("id")
    import org.apache.spark.sql.expressions.Window
    val wTot = Window.partitionBy(nId)
    // RANGE frame to current row counts partners on the anchor's side
    // of the order INCLUDING same-id rows; tot − that = the strict
    // other side (ascending ⇒ greater ids, descending ⇒ smaller)
    val wLe = Window.partitionBy(nId)
      .orderBy(if (anchorIsA) aId.asc else aId.desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val sfx = count(lit(1)).over(wTot) - count(lit(1)).over(wLe)
    // the suffix filter is applied LAST: the a-side filters (props,
    // residual WHERE incl. exists() probes, which re-derive a distinct
    // a-id probe from this frame) never reference __sfxl, so Catalyst's
    // ColumnPruning drops the Window from the probe branch entirely —
    // filtering here first would pin the window recomputation onto it
    st = State(st.df.withColumn("__sfxl", sfx), st.vars)
    anchorN.props.foreach { pe =>
      st = State(st.df.where(propQual(st, anchorV, pe)), st.vars) }
    residual.foreach { w =>
      val (st2, w2) = rewriteExistsPatterns(st, w)
      val comp = compiler(st2)
      st = State(st2.df.where(comp.toBool(comp.compile(w2))), st2.vars)
    }
    st = State(st.df.where(col("__sfxl") > 0)
      .withColumn("__sfx", J.fromLong(col("__sfxl"))).drop("__sfxl"),
      st.vars :+ ("__sfx" -> KJ))
    // count(*) over pairs = sum of suffix counts; a global (keyless)
    // count over zero rows is 0, never null
    val zero = Lit(graft.jsonb.JNum(java.math.BigDecimal.ZERO))
    val sumSfx: Expr =
      if (others.isEmpty) FnCall("coalesce",
        Seq(FnCall("sum", Seq(Vbl("__sfx"))), zero))
      else FnCall("sum", Seq(Vbl("__sfx")))
    // substitute EVERY CountStar occurrence — items, ORDER BY, and the
    // post-projection WHERE — or a structural `ORDER BY count(*)`
    // would no longer match its rewritten item and fall through to a
    // bare-CountStar compile error
    def subst(e: Expr): Expr = e match {
      case CountStar => sumSfx
      case other => Compiler.rewriteAggs(other, Map.empty,
        f => FnCall(f.name, f.args.map(subst), f.distinct), () => sumSfx)
    }
    val p2 = p.copy(
      items = p.items.map { case (e, alias) => (subst(e), alias) },
      orderBy = p.orderBy.map { case (e, asc) => (subst(e), asc) },
      where = p.where.map(subst))
    Some(buildProjection(st, p2))
  }

  /** (df + hidden sort-key cols, equality-key col names, hidden names). */
  private def jsonbKeyed(st: State): (DataFrame, Seq[String], Seq[String]) = {
    val hidden = st.vars.zipWithIndex.collect {
      case ((n, KJ), i) => (s"__sk_$i", n)
    }
    var df = st.df
    hidden.foreach { case (h, n) =>
      df = df.withColumn(h, J.sortKey(col(Compiler.q(n))))
    }
    val keys = st.vars.collect { case (n, k) if k != KJ => n } ++ hidden.map(_._1)
    (df, keys, hidden.map(_._1))
  }

  private def setOpDistinct(st: State): State = {
    val (df, keys, hidden) = jsonbKeyed(st)
    State(df.dropDuplicates(keys).drop(hidden: _*), st.vars)
  }

  /** INTERSECT / EXCEPT: distinct left rows (semi/anti-)joined against
    * the right side on null-safe key equality.
    */
  private def setOpJoin(l: State, r: State, joinType: String): State = {
    val (la, keys, hidL) = jsonbKeyed(l)
    val (rb, _, _) = jsonbKeyed(r)
    val rbR = rb.select(keys.map(k => col(Compiler.q(k)).as(s"${k}__r")): _*)
    val cond = keys.map(k => col(Compiler.q(k)) <=> col(Compiler.q(s"${k}__r")))
      .reduce(_ && _)
    val joined = la.dropDuplicates(keys).join(rbR, cond, joinType)
    State(joined.drop(hidL: _*), l.vars)
  }

  def applyClause(st: State, c: Clause): State = c match {
    case m: Match        => buildMatch(st, m)
    case u: Unwind       => buildUnwind(st, u)
    case p: Projection   => buildProjection(st, p)
    case cc: CreateClause => WriteOps.create(this, st, cc.paths)
    case d: DeleteClause => WriteOps.delete(this, st, d)
    case s: SetClause    => WriteOps.set(this, st, s.items, lit(true))
    case mg: MergeClause => WriteOps.merge(this, st, mg)
    case l: LoadClause   => buildLoad(st, l)
  }

  // ============================================================== MATCH

  /** Tag rows with a per-row id that both forks of a plan split agree
    * on. monotonically_increasing_id is only unstable across
    * re-evaluation when the input re-reads a shuffle or evaluates a
    * non-deterministic expression (mapper block fetch order races);
    * scan-only narrow plans re-evaluate deterministically (file→split
    * assignment comes from the sorted listing), so the eager
    * localCheckpoint — whose blocks pin storage until GC — is skipped
    * for them.
    */
  private[cypher] def stableRowTag(df: DataFrame, name: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Filter => LFilter, SubqueryAlias, Generate}
    val plan = df.queryExecution.optimizedPlan
    val wide = plan.exists {
      case _: Project | _: LFilter | _: SubqueryAlias | _: Generate => false
      case p => p.children.nonEmpty // any join/agg/window/sort/limit…
    } || plan.exists(p => p.expressions.exists(!_.deterministic))
    val tagged = df.withColumn(name, monotonically_increasing_id())
    if (wide) tagged.localCheckpoint(true) else tagged
  }

  /** The match's bound references IF every one is id-identified
    * (vertex/edge) — then correlation can key on ids; None forces
    * per-row rid correlation.
    */
  private def keyableRefs(st: State, m: Match): Option[Seq[(String, Kind)]] = {
    // escape hatch (and the differential-test lever): force the
    // per-row rid correlation everywhere
    if (spark.conf.get("spark.graft.keyedCorrelation", "true") == "false")
      return None
    val bound = st.vars.toMap
    // every bound-variable reference the match could make: pattern var
    // names (reuse binds by NAME) plus every `Vbl` in property maps,
    // WHERE and dijkstra weight/qual. Over-collection is safe (an extra
    // probe column); under-collection would unbind a correlated reference.
    val shared = (m.paths.flatMap(patternRefNames) ++ m.where.toSeq.flatMap(refNames))
      .distinct.filter(bound.contains)
    if (shared.forall(v => bound(v) == KV || bound(v) == KE))
      Some(shared.map(v => v -> bound(v)))
    else None
  }

  private[cypher] def buildMatch(st: State, m: Match): State = {
    if (m.optional) {
      // LATERAL left join against the bound row (transformMatchOptional
      // parse_graph.c:1184-1260). When every correlated reference is
      // id-identified, run the inner match once per DISTINCT shared
      // binding and left-join the new vars back BY ID — multiplicities
      // and null-extension are identical to the per-row form, but the
      // probe pays |distinct entities| and needs no row tag / eager
      // checkpoint of the whole bound relation (the 100-TB hazard).
      keyableRefs(st, m.copy(optional = false)) match {
        case Some(shared) if shared.nonEmpty =>
          val probe = st.df
            .select(shared.map(v => col(Compiler.q(v._1))): _*).distinct()
          val inner = buildMatch(State(probe, shared.toVector),
            m.copy(optional = false))
          val newVars = inner.vars.drop(shared.length)
          val keyed = inner.df.select(shared.zipWithIndex.map { case (v, i) =>
            col(Compiler.q(v._1)).getField("id").as(s"__om_k$i") } ++
            newVars.map(v => col(Compiler.q(v._1))): _*)
          val cond = shared.indices.map(i =>
            col(Compiler.q(shared(i)._1)).getField("id") ===
              col(s"__om_k$i")).reduce(_ && _)
          val joined = st.df.join(keyed, cond, "left")
            .drop(shared.indices.map(i => s"__om_k$i"): _*)
          State(joined, st.vars ++ newVars)
        case Some(_) => // no shared refs: uncorrelated — one inner run,
          // left-joined onto every row (empty inner -> null extension)
          val probe = spark.range(1).toDF("__om_one")
          val inner = buildMatch(State(probe, Vector.empty),
            m.copy(optional = false))
          val newVars = inner.vars
          val keyed = inner.df.select(
            newVars.map(v => col(Compiler.q(v._1))): _*)
          State(st.df.join(keyed, lit(true), "left"), st.vars ++ newVars)
        case None =>
          // a correlated reference is not id-identified (path/list/
          // jsonb kind): tag rows and correlate per row. The tag MUST
          // be materialized before the plan forks:
          // monotonically_increasing_id downstream of an exchange is
          // not stable across re-evaluation (shuffle-read row order
          // races), so the two branches would otherwise disagree.
          val tagged = stableRowTag(st.df, "__rowid")
          val base = State(tagged, st.vars)
          val inner = buildMatch(base, m.copy(optional = false))
          val newVars = inner.vars.drop(st.vars.length)
          val innerSel = inner.df.select(
            (col("__rowid") +: newVars.map(v => col(Compiler.q(v._1)))): _*)
          val joined = tagged.join(innerSel, Seq("__rowid"), "left")
            .drop("__rowid")
          State(joined, st.vars ++ newVars)
      }
    } else {
      // duplicate-variable rules within one MATCH clause
      // (parse_graph.c checkDuplicatedElemVar; cypher_dml.out): edge
      // and path variables bind exactly once; a vertex variable may
      // repeat only against other vertex occurrences (the join form)
      locally {
        val seen = scala.collection.mutable.Map.empty[String, Char]
        def claim(n: String, role: Char): Unit = {
          val clash = seen.get(n) match {
            case Some(r) => r != 'v' || role != 'v'
            case None => false
          }
          if (clash) throw new IllegalArgumentException(
            s"""duplicate variable "$n"""")
          seen.getOrElseUpdate(n, role)
        }
        m.paths.foreach { p =>
          p.variable.foreach(claim(_, 'p'))
          p.head.variable.foreach(claim(_, 'v'))
          p.tail.foreach { case (r, nd) =>
            r.variable.foreach(claim(_, 'e'))
            nd.variable.foreach(claim(_, 'v'))
          }
        }
      }
      var cur = st
      val newEdgeVars = Vector.newBuilder[(String, Kind)]
      m.paths.foreach { p =>
        val (next, edges) = addPath(cur, p)
        cur = next
        newEdgeVars ++= edges
      }
      // edge-uniqueness quals (addQualUniqueEdges parse_graph.c:212):
      // all fixed edges pairwise distinct; VLE arrays non-overlapping
      val edgeVars = newEdgeVars.result()
      val quals = for {
        i <- edgeVars.indices
        jj <- (i + 1) until edgeVars.length
      } yield uniqueQual(edgeVars(i), edgeVars(jj))
      val df2 = quals.foldLeft(cur.df)((d, q) => d.where(q))
      val res = State(df2, cur.vars)
      m.where.fold(res)(filterWhere(res, _))
    }
  }

  /** `st` filtered by a WHERE predicate (MATCH's and a projection's):
    * endpoint functions and pattern predicates first bind as hidden
    * columns, then the predicate compiles against them.
    */
  private def filterWhere(st0: State, w: Expr): State = {
    val (st1, w1) = rewriteEndpointFns(st0, w)
    val (st2, w2) = rewriteExistsPatterns(st1, w1)
    val comp = compiler(st2)
    State(st2.df.where(comp.toBool(comp.compile(w2))), st2.vars)
  }

  /** Bind exists((a)-[:t]->(b)) / size((a)-[:t]->(b)) pattern
    * expressions as hidden columns: tag rows, run the pattern as a
    * correlated match (shared variables constrain it), join the match
    * presence (exists -> boolean, false not null, like the reference's
    * EXISTS sublink) or multiplicity (size -> jsonb count, 0 for no
    * match) back per row.
    */
  private def rewriteExistsPatterns(st0: State, e: Expr): (State, Expr) = {
    var st = st0
    /** Shared bound refs IF all are id-identified (vertex/edge) —
      * then the pattern verdict is a function of their ids and can
      * key-correlate; None forces the per-row rid fallback (a shared
      * path/list/jsonb ref has no single join key). Uses the complete
      * reference collector, so property-map constraints referencing
      * outer vars (exists((a)-->({k: c.name}))) correlate too.
      */
    def keyVars(p: PathPattern): Option[Seq[(String, Kind)]] =
      keyableRefs(st, Match(Seq(p), optional = false, where = None))
    /** exists()/size() depend only on the pattern's shared variables —
      * so evaluate per DISTINCT shared-entity binding and hash-join
      * the verdict back BY ID, instead of tagging every input row and
      * re-running the pattern against the whole bound relation. After
      * a pattern join has exploded rows (g41's per-nation customer
      * pairs), the probe pays |distinct entities|, not |joined rows|,
      * and no row tag / checkpoint barrier is needed at all. `agg`
      * turns the inner match into the verdict column; `empty` is the
      * no-match value for rows whose key never matched.
      */
    def bindKeyed(hidden: String, p: PathPattern,
        shared: Seq[(String, Kind)], kind: Kind,
        finish: Column => Column): Expr = {
      val n = s"${hidden}_n"
      if (shared.isEmpty) {
        // uncorrelated pattern: one global match count, broadcast
        // onto every row through a single-row left join (stays lazy)
        val probe = spark.range(1).toDF(s"${hidden}_one")
        val inner = buildMatch(State(probe, Vector.empty),
          Match(Seq(p), optional = false, where = None))
        val verdict = broadcast(inner.df.groupBy()
          .agg(count(lit(1)).as(n)))
        val joined = st.df.join(verdict, lit(true), "left")
          .withColumn(hidden, finish(col(n))).drop(n)
        st = State(joined, st.vars :+ (hidden -> kind))
      } else {
        val probe = st.df
          .select(shared.map(v => col(Compiler.q(v._1))): _*).distinct()
        val inner = buildMatch(State(probe, shared.toVector),
          Match(Seq(p), optional = false, where = None))
        val keyed = inner.df.groupBy(shared.zipWithIndex.map { case (v, i) =>
            col(Compiler.q(v._1)).getField("id").as(s"${hidden}_k$i") }: _*)
          .agg(count(lit(1)).as(n))
        val cond = shared.indices.map(i =>
          col(Compiler.q(shared(i)._1)).getField("id") ===
            col(s"${hidden}_k$i")).reduce(_ && _)
        val joined = st.df.join(keyed, cond, "left")
          .withColumn(hidden, finish(col(n)))
          .drop(shared.indices.map(i => s"${hidden}_k$i") :+ n: _*)
        st = State(joined, st.vars :+ (hidden -> kind))
      }
      Vbl(hidden)
    }
    def bind(p: PathPattern): Expr = keyVars(p) match {
      case Some(shared) =>
        bindKeyed(fresh("exists"), p, shared, Kind.KB,
          c => coalesce(c, lit(0L)) > 0)
      case None =>
        val hidden = fresh("exists")
        val rid = s"${hidden}_rid"
        // materialized before the plan forks — see stableRowTag
        val tagged = stableRowTag(st.df, rid)
        val inner = buildMatch(State(tagged, st.vars),
          Match(Seq(p), optional = false, where = None))
        val matched = inner.df.select(col(rid).as(s"${hidden}_m")).distinct()
        val joined = tagged
          .join(matched, col(rid) === col(s"${hidden}_m"), "left")
          .withColumn(hidden, col(s"${hidden}_m").isNotNull)
          .drop(rid, s"${hidden}_m")
        st = State(joined, st.vars :+ (hidden -> Kind.KB))
        Vbl(hidden)
    }
    def bindCount(p: PathPattern): Expr = keyVars(p) match {
      case Some(shared) =>
        bindKeyed(fresh("psize"), p, shared, Kind.KJ,
          c => graft.expr.J.fromLong(coalesce(c, lit(0L))))
      case None =>
        val hidden = fresh("psize")
        val rid = s"${hidden}_rid"
        // materialized before the plan forks — see stableRowTag
        val tagged = stableRowTag(st.df, rid)
        val inner = buildMatch(State(tagged, st.vars),
          Match(Seq(p), optional = false, where = None))
        val counts = inner.df.groupBy(col(rid).as(s"${hidden}_m"))
          .agg(count(lit(1)).as(s"${hidden}_n"))
        val joined = tagged
          .join(counts, col(rid) === col(s"${hidden}_m"), "left")
          .withColumn(hidden,
            graft.expr.J.fromLong(coalesce(col(s"${hidden}_n"), lit(0L))))
          .drop(rid, s"${hidden}_m", s"${hidden}_n")
        st = State(joined, st.vars :+ (hidden -> Kind.KJ))
        Vbl(hidden)
    }
    // shortestpath()/allshortestpaths() in EXPRESSION position
    // (cypher_shortestpath.sql:31-100): unlike the MATCH-position form,
    // non-matching rows SURVIVE with a NULL path — so the finder runs
    // as a correlated match and LEFT-joins back per row.
    // allshortestpaths yields the path ARRAY (its length() is the
    // path count, cypher_shortestpath.sql:139).
    def bindShortestExpr(all: Boolean, p0: PathPattern): Expr = {
      val hidden = fresh("spx")
      val pv = s"${hidden}_p"
      val p = p0.copy(variable = Some(pv),
        finder = if (all) PathFinder.AllShortest else PathFinder.Shortest)
      def pathAgg(inner: DataFrame, keys: Seq[Column]): DataFrame =
        if (all) inner.groupBy(keys: _*)
          .agg(collect_list(col(Compiler.q(pv))).as(hidden))
        else
          // deterministic representative by edge-id array (at most one
          // row per key anyway when both endpoints are bound)
          inner.groupBy(keys: _*)
            .agg(min_by(col(Compiler.q(pv)),
              transform(col(Compiler.q(pv)).getField("edges"),
                e => e.getField("id"))).as(hidden))
      val kind = if (all) Kind.KPL else Kind.KP
      keyVars(p) match {
        case Some(shared) if shared.nonEmpty =>
          // path value is a function of the shared endpoint ids: run
          // the finder once per DISTINCT binding, join back by id —
          // no row tag, no checkpoint of the bound relation
          val probe = st.df
            .select(shared.map(v => col(Compiler.q(v._1))): _*).distinct()
          val inner = buildMatch(State(probe, shared.toVector),
            Match(Seq(p), optional = false, where = None))
          val keyed = pathAgg(inner.df, shared.zipWithIndex.map {
            case (v, i) =>
              col(Compiler.q(v._1)).getField("id").as(s"${hidden}_k$i") })
          val cond = shared.indices.map(i =>
            col(Compiler.q(shared(i)._1)).getField("id") ===
              col(s"${hidden}_k$i")).reduce(_ && _)
          val joined = st.df.join(keyed, cond, "left")
            .drop(shared.indices.map(i => s"${hidden}_k$i"): _*)
          st = State(joined, st.vars :+ (hidden -> kind))
        case _ =>
          val rid = s"${hidden}_rid"
          val tagged = stableRowTag(st.df, rid)
          val inner = buildMatch(State(tagged, st.vars),
            Match(Seq(p), optional = false, where = None))
          val paths = pathAgg(inner.df, Seq(col(rid).as(s"${hidden}_m")))
          val joined = tagged
            .join(paths, col(rid) === col(s"${hidden}_m"), "left")
            .drop(rid, s"${hidden}_m")
          st = State(joined, st.vars :+ (hidden -> kind))
      }
      Vbl(hidden)
    }
    def go(x: Expr): Expr = x match {
      case ExistsPattern(p) => bind(p)
      case SizePattern(p) => bindCount(p)
      case ShortestPathExpr(all, p) => bindShortestExpr(all, p)
      case other => mapChildren(other)(go)
    }
    val e2 = go(e) // mutates st per bound pattern — evaluate first
    (st, e2)
  }

  private def uniqueQual(a: (String, Kind), b: (String, Kind)): Column = {
    val ac = col(Compiler.q(a._1)); val bc = col(Compiler.q(b._1))
    (a._2, b._2) match {
      case (KE, KE)   => ac.getField("id") =!= bc.getField("id")
      case (KE, KEL)  => !array_contains(transform(bc, e => e.getField("id")), ac.getField("id"))
      case (KEL, KE)  => !array_contains(transform(ac, e => e.getField("id")), bc.getField("id"))
      case (KEL, KEL) =>
        !arrays_overlap(transform(ac, e => e.getField("id")),
          transform(bc, e => e.getField("id")))
      case _ => lit(true)
    }
  }

  /** Extend state with one path pattern; returns new edge vars bound
    * (for uniqueness quals).
    */
  /** Graphmeta-driven chain ORDER: a fixed-length path builds
    * left-to-right, so a chain whose RARE end is written last drags
    * the full first-hop fan-out through every join before the
    * selective hop finally cuts it. When the stats say the last hop
    * is ≥4× more selective than the first, traverse the pattern
    * REVERSED (hop directions flip; a path pattern is symmetric under
    * reversal and every variable keeps its name, so bindings are
    * identical). Skipped when a path variable or any VLE hop is
    * present — those observe traversal order (vertex/edge arrays).
    */
  /** Common preconditions for any stats-driven chain re-traversal:
    * no path variable (observes traversal order), no VLE hop, every
    * variable fresh (a pre-bound var is the anchor the left-to-right
    * build exploits), graphmeta planning on and populated.
    */
  private def chainReplannable(st0: State, p: PathPattern): Boolean = {
    if (p.variable.nonEmpty || p.finder != PathFinder.None) return false
    if (p.tail.length < 2 || p.tail.exists(_._1.varLength.nonEmpty)) return false
    if (p.varNames.exists(st0.has)) return false
    if (spark.conf.get("spark.graft.graphmetaPlanning", "true") == "false")
      return false
    metaCounts.nonEmpty
  }

  /** Per-hop graphmeta cardinalities for a chain, in pattern order
    * (None when any hop has no estimate — partial stats would compare
    * apples to unknowns).
    */
  private def chainHopEstimates(p: PathPattern): Option[Vector[Long]] = {
    val nodes = p.head +: p.tail.map(_._2)
    val ests = p.tail.zipWithIndex.map { case ((rel, node), i) =>
      graphmetaHopEstimate(rel, Some(nodes(i)), node).map(_._1)
    }
    if (ests.forall(_.isDefined)) Some(ests.map(_.get).toVector) else None
  }

  private[cypher] def reorderPath(st0: State, p: PathPattern): PathPattern = {
    if (!chainReplannable(st0, p)) return p
    chainHopEstimates(p) match {
      case Some(ests) if ests.last * 4 <= ests.head =>
        val nodes = p.head +: p.tail.map(_._2)
        val rels = p.tail.map(_._1)
        val newTail = rels.reverse.zip(nodes.reverse.tail).map {
          case (r, n) => (r.copy(direction = -r.direction), n)
        }
        p.copy(head = nodes.last, tail = newTail)
      case _ => p
    }
  }

  /** Globally cheapest anchor: when a MIDDLE hop is ≥4× more selective
    * than both ends, neither forward nor reversed traversal starts
    * small — the first frame carries an end hop's full fan-out through
    * every join until the selective hop finally cuts it. Returns the
    * anchor hop index k (0 < k < n-1) to start the build from; the
    * chain then extends rightward (hops k..n-1 forward) and leftward
    * (hops k-1..0 with directions flipped). A path pattern is
    * symmetric under per-hop reversal, and every variable keeps its
    * name, so bindings are identical to the left-to-right build.
    * Called AFTER reorderPath, whose end-for-end flip handles the
    * 2-hop and cheap-last-hop cases.
    */
  private[cypher] def chooseAnchor(st0: State, p: PathPattern): Option[Int] = {
    if (p.tail.length < 3) return None
    if (!chainReplannable(st0, p)) return None
    chainHopEstimates(p).flatMap { ests =>
      val k = ests.indices.minBy(ests)
      if (k > 0 && k < ests.length - 1 &&
          ests(k) * 4 <= ests.head && ests(k) * 4 <= ests.last) Some(k)
      else None
    }
  }

  /** Emit a chain's new vars in the ORIGINAL pattern's order (n0, e1,
    * n1, e2, ...), first occurrence winning for a variable repeated in
    * the pattern. `flipped` = the name arrays were collected against
    * the reorderPath-REVERSED pattern and must be walked backwards to
    * recover the original order. Shared by the anchored and reversed
    * builds so the two can never diverge on ordering again.
    */
  private def patternOrderVars(nodeNames0: IndexedSeq[String],
      relNames0: IndexedSeq[(String, Kind)], kindOf: Map[String, Kind],
      flipped: Boolean): Vector[(String, Kind)] = {
    val nn = if (flipped) nodeNames0.reverse else nodeNames0
    val rr = if (flipped) relNames0.reverse else relNames0
    val seen = scala.collection.mutable.Set.empty[String]
    val out = Vector.newBuilder[(String, Kind)]
    def emit(n: String, k: Kind): Unit = if (seen.add(n)) out += (n -> k)
    emit(nn(0), kindOf(nn(0)))
    for (i <- rr.indices) {
      emit(rr(i)._1, rr(i)._2)
      emit(nn(i + 1), kindOf(nn(i + 1)))
    }
    out.result()
  }

  private def addPath(st0: State, p0: PathPattern): (State, Vector[(String, Kind)]) = {
    p0.finder match {
      case PathFinder.None => ()
      case f => return Algo.findPaths(this, st0, p0, f)
    }
    val p = reorderPath(st0, p0)
    // Stats-driven builds must not leak their traversal order into the
    // VISIBLE variable order (RETURN * / WITH * project st.vars in
    // order, and MERGE aligns its create against the match's new-var
    // sequence): both special builds below re-emit the new vars in
    // PATTERN order, so the schema is stable whatever the stats say.
    chooseAnchor(st0, p) match { case Some(k) =>
      // middle-anchor build: start at the cheapest hop, extend right
      // then left. Guards in chooseAnchor rule out path vars and VLE,
      // so the vertex/edge path arrays are never needed here.
      val nodes = p.head +: p.tail.map(_._2)
      val rels = p.tail.map(_._1)
      val nodeNames = new Array[String](nodes.length)
      val relNames = new Array[(String, Kind)](rels.length)
      val (stA, anchorName) = bindNode(st0, nodes(k))
      nodeNames(k) = anchorName
      var stS = stA
      var prevName2 = anchorName
      var prevPat2: Option[NodePattern] = Some(nodes(k))
      for (i <- k until rels.length) {
        val (st2, relName, nodeName, relKind) =
          bindRel(stS, prevName2, rels(i), nodes(i + 1), needVerts = false,
            prevPat2)
        stS = st2
        relNames(i) = (relName, relKind)
        nodeNames(i + 1) = nodeName
        prevName2 = nodeName
        prevPat2 = Some(nodes(i + 1))
      }
      prevName2 = anchorName
      prevPat2 = Some(nodes(k))
      for (i <- (k - 1) to 0 by -1) {
        val (st2, relName, nodeName, relKind) =
          bindRel(stS, prevName2, rels(i).copy(direction = -rels(i).direction),
            nodes(i), needVerts = false, prevPat2)
        stS = st2
        relNames(i) = (relName, relKind)
        nodeNames(i) = nodeName
        prevName2 = nodeName
        prevPat2 = Some(nodes(i))
      }
      // re-emit new vars in the ORIGINAL pattern's order — when
      // reorderPath flipped the chain before the anchor fired, the
      // nodes/rels arrays are against the FLIPPED pattern and must be
      // walked backwards (flip + anchor CAN co-fire: estimates
      // [400, 2, 100] flip to [100, 2, 400], then anchor the middle)
      val ordered = patternOrderVars(
        nodeNames.toIndexedSeq, relNames.toIndexedSeq,
        stS.vars.toMap, flipped = p ne p0)
      return (State(stS.df, st0.vars ++ ordered), relNames.toVector)
    case None => ()
    }
    var st = st0
    val edgeVars = Vector.newBuilder[(String, Kind)]
    // bind head
    var (st1, prevName) = bindNode(st, p.head)
    st = st1
    val pathVertices = Vector.newBuilder[Column]
    val pathEdges = Vector.newBuilder[Column]
    val boundNodeNames = Vector.newBuilder[String]
    boundNodeNames += prevName
    pathVertices += array(col(Compiler.q(prevName)))
    var prevPat: Option[NodePattern] = Some(p.head)
    p.tail.foreach { case (rel, node) =>
      val (st2, relName, nodeName, relKind) =
        bindRel(st, prevName, rel, node, p.variable.isDefined, prevPat)
      st = st2
      prevPat = Some(node)
      edgeVars += (relName -> relKind)
      boundNodeNames += nodeName
      if (relKind == KE) pathEdges += array(col(Compiler.q(relName)))
      else pathEdges += col(Compiler.q(relName))
      if (relKind == KEL) {
        // VLE binds intermediate+target vertices as an array column
        pathVertices += col(Compiler.q(s"${relName}__vs"))
      } else {
        pathVertices += array(col(Compiler.q(nodeName)))
      }
      prevName = nodeName
    }
    // bind path variable (graphpath composite, ag_graphpath.h:29-33)
    p.variable.foreach { pv =>
      val verts = pathVertices.result()
      val vcol = if (verts.length == 1) verts.head else concat(verts: _*)
      val es = pathEdges.result()
      val ecol = if (es.isEmpty) emptyEdgeArray
        else if (es.length == 1) es.head
        else concat(es: _*)
      st = State(st.df.withColumn(pv, struct(vcol.as("vertices"), ecol.as("edges"))),
        st.vars :+ (pv -> KP))
    }
    if (p ne p0) {
      // reorderPath flipped the chain: re-emit the new vars in the
      // ORIGINAL pattern's order so the visible schema is independent
      // of the stats (reorder excludes path vars and VLE, so the
      // segment is exactly nodes and edges)
      val ordered = patternOrderVars(
        boundNodeNames.result(), edgeVars.result(),
        st.vars.toMap, flipped = true)
      return (State(st.df, st0.vars ++ ordered),
        edgeVars.result().reverse)
    }
    (st, edgeVars.result())
  }

  /** Typed empty arrays (array() alone types as array<null>). */
  private[cypher] def emptyEdgeArray: Column =
    slice(array(struct(lit(0L).as("id"), lit(0L).as("start"), lit(0L).as("end"),
      lit(null).cast("string").as("properties"))), 1, 0)
  private[cypher] def emptyVertexArray: Column =
    slice(array(struct(lit(0L).as("id"), lit(null).cast("string").as("properties"))), 1, 0)
  private[cypher] def emptyLongArray: Column = slice(array(lit(0L)), 1, 0)

  private[cypher] def vertexStructType: StructType = StructType(Seq(
    StructField("id", LongType, false), StructField("properties", StringType, true)))
  private[cypher] def edgeStructType: StructType = StructType(Seq(
    StructField("id", LongType, false), StructField("start", LongType, false),
    StructField("end", LongType, false), StructField("properties", StringType, true)))

  /** Scan for a node pattern: label subtree or all vertex labels. */
  /** Label lookup with the reference's kind diagnostics
    * (parse_graph.c: label kind checks on scan transform).
    */
  private[cypher] def labelOfKind(l: String, kind: Char): Unit = {
    val lm = catalog.label(graph, l).getOrElse(
      throw new IllegalArgumentException(s"""label "$l" does not exist"""))
    if (lm.kind != kind)
      throw new IllegalArgumentException(
        if (lm.kind == 'e') s"""label "$l" is edge label"""
        else s"""label "$l" is vertex label""")
  }

  private[cypher] def vertexScan(label: Option[String], only: Boolean): DataFrame = {
    val df = label match {
      case Some(l) =>
        labelOfKind(l, 'v')
        if (only) catalog.scanOnly(graph, l) else catalog.scan(graph, l)
      case None => catalog.scanAll(graph, 'v')
    }
    df
  }

  private[cypher] def bindNode(st: State, n: NodePattern): (State, String) = {
    val name = n.variable.getOrElse(fresh("v"))
    if (st.has(name)) {
      // re-binding an existing var: optional extra label/prop
      // constraint. ONLY narrows to the exact label here too — the
      // fresh-bind path scans only that table, so the re-bind filter
      // must match it (subtree-always here would widen the re-bound
      // form relative to the scanned form)
      var df = st.df
      n.label.foreach(l => df = inLabel(df, name, l, n.only))
      n.props.foreach { pe =>
        df = df.where(propQual(State(df, st.vars), name, pe))
      }
      (State(df, st.vars), name)
    } else {
      val raw = vertexScan(n.label, n.only)
      val scan = raw.select(struct(col("id"), col("properties")).as(name) +:
        shredFrameCols(raw, name): _*)
      val joined =
        if (st.vars.isEmpty && st.df.columns.sameElements(Array("__dummy")))
          scan // first pattern: replace the dummy row frame
        else st.df.crossJoin(scan)
      var st2 = State(joined, st.vars :+ (name -> KV))
      n.props.foreach { pe => st2 = State(st2.df.where(propQual(st2, name, pe)), st2.vars) }
      (st2, name)
    }
  }

  /** Property-map constraint {k: v, ...} -> per-key equality quals
    * (transformElemQuals parse_graph.c:3079-3131). Each key equality
    * compiles through the shred-aware Cmp path, so `{k: lit}` reaches
    * the parquet scan as a native pushable filter when the label is
    * shredded.
    */
  private def propQual(st: State, varName: String, propExpr: Expr): Column = {
    val comp = compiler(st)
    val propsCol = col(Compiler.q(varName)).getField("properties")
    propExpr match {
      case MapExpr(fields) =>
        fields.map { case (k, v) =>
          comp.compile(Cmp("=", Prop(Vbl(varName), k), v)).col
        }.reduceOption(_ && _).getOrElse(lit(true))
      case other => // parameter object: containment semantics
        J.contains(propsCol, comp.toJ(comp.compile(other)))
    }
  }

  /** Edge scan with normalized __s/__e join endpoints. Undirected
    * patterns scan both orientations (genEdgeUnion parse_graph.c:178).
    */
  private[cypher] def edgeScan(types: Seq[String], direction: Int,
      only: Boolean = false): DataFrame = {
    // ONLY (gram.y:18684): exact label tables, no inheritance subtree
    types.foreach(labelOfKind(_, 'e'))
    val base = types match {
      case Nil => catalog.scanAll(graph, 'e')
      case ts if only => ts.map(t => catalog.scanOnly(graph, t))
        .reduce(_ unionAll _)
      case ts  => ts.map(t => catalog.scan(graph, t)).reduce(_ unionAll _)
    }
    val e = struct(col("id"), col("start"), col("end"), col("properties"))
    // pass shred sidecars through (dropped by downstream selects unless
    // bindRel claims them for the edge variable)
    val extras = base.columns.toSeq.filter(_.startsWith("__p")).map(c => col(Compiler.q(c)))
    direction match {
      case 1  => base.select(e.as("__edge") +: col("start").as("__s") +:
        col("end").as("__e") +: extras: _*)
      case -1 => base.select(e.as("__edge") +: col("end").as("__s") +:
        col("start").as("__e") +: extras: _*)
      case 0  =>
        base.select(e.as("__edge") +: col("start").as("__s") +:
            col("end").as("__e") +: extras: _*)
          .unionAll(base.select(e.as("__edge") +: col("end").as("__s") +:
            col("start").as("__e") +: extras: _*))
    }
  }

  /** (estimated matched-edge count, prev-side labid set, target-side
    * labid set in __s/__e orientation) for a fixed-length hop, from
    * the cached ag_graphmeta matrix. None when graphmeta planning is
    * toggled off (`spark.graft.graphmetaPlanning=false`) or the graph
    * has no edge stats. A label set is None when that endpoint is
    * unconstrained by the pattern. The estimate is an upper bound:
    * property/residual predicates only shrink the hop further.
    */
  /** Per-STATEMENT caches for planning lookups: one Builder serves one
    * statement, so the graphmeta fingerprint check (a directory walk)
    * and the meta-file label lookups run once per statement, not once
    * per hop of every multi-hop pattern.
    */
  private lazy val metaCounts: Map[(Int, Int, Int), Long] =
    try catalog.graphmetaCounts(graph) catch { case _: Throwable => Map.empty }
  private val labidsMemo =
    scala.collection.mutable.Map.empty[(String, Boolean), Set[Int]]
  private def labidsOf(l: String, only: Boolean): Set[Int] =
    labidsMemo.getOrElseUpdate((l, only),
      if (only) catalog.label(graph, l).map(_.labid).toSet
      else catalog.subtree(graph, l).map(_.labid).toSet)

  /** Keep the rows whose bound vertex `name` carries label `l` (ONLY:
    * exactly `l`, else its subtree): the filter a re-bound vertex gets
    * where a fresh bind would scan the label, with the scan's
    * unknown-label and wrong-kind diagnostics.
    */
  private[cypher] def inLabel(df: DataFrame, name: String, l: String,
      only: Boolean): DataFrame = {
    labelOfKind(l, 'v')
    df.where(GraphId.labidOf(col(Compiler.q(name)).getField("id"))
      .isin(labidsOf(l, only).toSeq: _*))
  }

  private def graphmetaHopEstimate(rel: RelPattern, prevPat: Option[NodePattern],
      node: NodePattern): Option[(Long, Option[Set[Int]], Option[Set[Int]])] = {
    if (spark.conf.get("spark.graft.graphmetaPlanning", "true") == "false")
      return None
    val counts = metaCounts
    if (counts.isEmpty) return None
    def vIds(n: Option[NodePattern]): Option[Set[Int]] =
      n.flatMap(pat => pat.label.map(l => labidsOf(l, pat.only)))
    val eIds: Option[Set[Int]] =
      if (rel.types.isEmpty) None
      else Some(rel.types.flatMap(t => labidsOf(t, rel.only)).toSet)
    val prevIds = vIds(prevPat)
    val tgtIds = vIds(Some(node))
    def est1(sSet: Option[Set[Int]], tSet: Option[Set[Int]]): Long =
      counts.iterator.map { case ((s, e, t), c) =>
        if (eIds.forall(_.contains(e)) && sSet.forall(_.contains(s)) &&
          tSet.forall(_.contains(t))) c else 0L
      }.sum
    // __s is the prev-side endpoint after edgeScan's orientation
    // normalization; the matrix keys on the PHYSICAL (start, end)
    val est = rel.direction match {
      case 1 => est1(prevIds, tgtIds)
      case -1 => est1(tgtIds, prevIds)
      case _ => est1(prevIds, tgtIds) + est1(tgtIds, prevIds)
    }
    Some((est, prevIds, tgtIds))
  }

  /** Join one relationship hop (+ target node) onto the frame:
    * equi-joins on graphid columns (transformComponents quals
    * parse_graph.c:1579-1784) — Catalyst picks broadcast/shuffle.
    */
  private def bindRel(st0: State, prevName: String, rel: RelPattern,
      node: NodePattern, needVerts: Boolean = true,
      prevPat: Option[NodePattern] = None): (State, String, String, Kind) = {
    var st = st0
    val relName = rel.variable.getOrElse(fresh("e"))
    rel.varLength match {
      case Some((lo, hi)) =>
        val (st2, nodeName) = Algo.vleJoin(this, st, prevName, rel, node, relName,
          lo.getOrElse(1L), hi, needVerts)
        return (st2, relName, nodeName, KEL)
      case None => ()
    }
    val prevId = col(Compiler.q(prevName)).getField("id")
    val edgesRaw = edgeScan(rel.types, rel.direction, rel.only)
    var edges = edgesRaw.select(col("__edge").as(relName) +:
      col("__s").as(s"__s_$relName") +: col("__e").as(s"__e_$relName") +:
      shredFrameCols(edgesRaw, relName): _*)
    // ag_graphmeta-driven hop planning (the analog of the reference
    // forcing max stats targets on graph labels, graphcmds.c:306): the
    // (start, edge, end) count matrix gives this TYPED hop's exact
    // cardinality — a selectivity Spark cannot see from file sizes
    // when many label combinations share one edge table. A small hop
    // over a skewed combination gets (a) labid-range filters on the
    // edge endpoints, which reach parquet as min/max-prunable start/end
    // predicates, and (b) an explicit broadcast hint, avoiding a
    // full-table shuffle that the whole-table size estimate would force.
    graphmetaHopEstimate(rel, prevPat, node).foreach { case (est, sIds, tIds) =>
      def rangeFilter(c: Column, ids: Set[Int]): Column =
        ids.toSeq.sorted.map { l =>
          c.between(l.toLong << 48, ((l.toLong + 1) << 48) - 1)
        }.reduce(_ || _)
      // __s/__e are orientation-normalized by edgeScan, so the filters
      // hold for undirected hops too: each union branch admits exactly
      // the rows the estimate's corresponding est1 term counted.
      // Track installation — the broadcast decision below must only
      // trust `est` when the frame was actually narrowed to what the
      // estimate counted (a constrained side whose filter was skipped
      // leaves the frame a superset of the estimate).
      def install(idsOpt: Option[Set[Int]], c: Column): Boolean = idsOpt match {
        case None => true // unconstrained: est counted every labid
        case Some(ids) if ids.nonEmpty && ids.size <= 16 =>
          edges = edges.where(rangeFilter(c, ids)); true
        case _ => false
      }
      val sOk = install(sIds, col(s"__s_$relName"))
      val tOk = install(tIds, col(s"__e_$relName"))
      val cap = spark.conf.get("spark.graft.graphmetaBroadcastRows",
        "100000").toLong
      if (sOk && tOk && est <= cap) edges = broadcast(edges)
    }
    var df = st.df.join(edges, prevId === col(s"__s_$relName"))
    st = State(df, st.vars :+ (relName -> KE))
    rel.props.foreach { pe => st = State(st.df.where(propQual(st, relName, pe)), st.vars) }
    // bind target node
    val nodeName = node.variable.getOrElse(fresh("v"))
    if (st.has(nodeName)) {
      df = st.df.where(col(s"__e_$relName") === col(Compiler.q(nodeName)).getField("id"))
      st = State(df, st.vars)
      node.props.foreach { pe => st = State(st.df.where(propQual(st, nodeName, pe)), st.vars) }
      node.label.foreach { l =>
        // honor ONLY like the fresh-bind scan does (exact label, no
        // inheritance subtree) — the re-bound form must filter the
        // same rows the scan form would have produced
        st = State(inLabel(st.df, nodeName, l, node.only), st.vars)
      }
    } else {
      val raw = vertexScan(node.label, node.only)
      val scan = raw.select(struct(col("id"), col("properties")).as(nodeName) +:
        shredFrameCols(raw, nodeName): _*)
      df = st.df.join(scan, col(s"__e_$relName") === col(Compiler.q(nodeName)).getField("id"))
      st = State(df, st.vars :+ (nodeName -> KV))
      node.props.foreach { pe => st = State(st.df.where(propQual(st, nodeName, pe)), st.vars) }
    }
    st = State(st.df.drop(s"__s_$relName", s"__e_$relName"), st.vars)
    (st, relName, nodeName, KE)
  }

  // ============================================================= UNWIND

  private def buildUnwind(st: State, u: Unwind): State = {
    val comp = compiler(st)
    val ce = comp.compile(u.expr)
    ce.kind match {
      case KEL => // explode an edge array into edge rows
        State(st.df.withColumn(u.as, explode(ce.col)), st.vars :+ (u.as -> KE))
      case KVL =>
        State(st.df.withColumn(u.as, explode(ce.col)), st.vars :+ (u.as -> KV))
      case _ =>
        val arr = JsonbNormalize.splitArray(comp.toJ(ce))
        State(st.df.withColumn(u.as, explode(arr)), st.vars :+ (u.as -> KJ))
    }
  }

  // =============================================================== LOAD

  /** LOAD FROM table AS v (gram.y:19156-19170) — whole row becomes a
    * jsonb object var in the pipeline.
    */
  private def buildLoad(st: State, l: LoadClause): State = {
    if (st.has(l.as)) throw new IllegalArgumentException(
      s"""duplicate variable "${l.as}"""")
    val t = loadTable(l.table)
    val rowJson = JsonbNormalize.normalize(to_json(struct(t.columns.map(col): _*)))
    val loaded = t.select(rowJson.as(l.as))
    val joined =
      if (st.vars.isEmpty && st.df.columns.sameElements(Array("__dummy"))) loaded
      else st.df.crossJoin(loaded)
    State(joined, st.vars :+ (l.as -> KJ))
  }

  // ========================================================= projection

  private[cypher] def buildProjection(st0: State, p: Projection): State = {
    // WITH items must be named — a bare expression has no variable for
    // later clauses to reference ("expression in WITH must be aliased",
    // parse_cypher_expr.c); bare variables keep their own name
    if (!p.isReturn)
      p.items.foreach {
        case (Vbl(_), None) => ()
        case (e, None) if !e.isInstanceOf[Vbl] =>
          throw new IllegalArgumentException(
            "expression in WITH must be aliased (use AS)")
        case _ => ()
      }
    // startnode()/endnode() re-fetch vertices by the edge's endpoint id
    // (graph.c edge_start_vertex): rewrite to hidden joined vars first;
    // exists(pattern) in RETURN/WITH items binds hidden bool columns
    var st = st0
    def endpoints(e: Expr): Expr = {
      val (st2, e2) = rewriteEndpointFns(st, e); st = st2; e2
    }
    val items1 = p.items.map { case (e, as) =>
      val e1 = endpoints(e)
      val (st2, e2) = rewriteExistsPatterns(st, e1); st = st2; (e2, as)
    }
    val order = p.orderBy.map { case (e, asc) => (endpoints(e), asc) }
    val p2b = p.copy(items = items1, orderBy = order)
    val items0: Seq[(Expr, String)] =
      if (p2b.star) st.vars.filterNot(_._1.startsWith("__")).map { case (n, _) => (Vbl(n), n) }
      else p2b.items.map { case (e, as) => (e, as.getOrElse(Compiler.itemName(e))) }
    buildProjectionImpl(st, p2b, items0)
  }

  /** Replace startnode(e)/endnode(e) with hidden vertex vars joined by
    * endpoint id (left join: dangling endpoints yield SQL NULL).
    */
  // hidden endpoint-var name -> the exact arg it was created for
  // (collision-proof memoization; see rewriteEndpointFns)
  private val endpointVarArgs = scala.collection.mutable.Map[String, Expr]()

  private def rewriteEndpointFns(st0: State, e0: Expr): (State, Expr) = {
    var st = st0
    def rewriteExpr(e: Expr): Expr = e match {
      case FnCall(fn @ ("startnode" | "endnode"), Seq(arg), _) =>
        val argR = arg match {
          case Vbl(_) => arg
          case other => other match {
            case Index(b2, i2) => Index(rewriteExpr(b2), i2)
            case x => x
          }
        }
        val comp0 = compiler(st)
        val ceTry = try Some(comp0.compile(argR)) catch { case _: Exception => None }
        ceTry match {
          case Some(ce) if ce.kind == KE =>
            // memoize by the EXACT arg, not any hash of it: the name
            // must be stable for repeated startnode/endnode calls on
            // the same arg, but two different args may share any
            // 32-bit hash — endpointVarArgs records which arg owns a
            // name, and a mismatch appends a counter instead of
            // silently joining the wrong endpoint vertex (r12 advice)
            val base =
              s"__${fn.take(5)}_${java.lang.Integer.toHexString(argR.hashCode)}"
            var hidden = base
            var bump = 0
            while (st.has(hidden) &&
                !endpointVarArgs.get(hidden).contains(argR)) {
              bump += 1
              hidden = s"${base}_$bump"
            }
            if (!st.has(hidden)) {
              endpointVarArgs(hidden) = argR
              val endpointField = if (fn == "startnode") "start" else "end"
              val scan = vertexScan(None, only = false)
                .select(struct(col("id"), col("properties")).as(hidden))
              val joined = st.df.join(scan,
                ce.col.getField(endpointField) ===
                  col(Compiler.q(hidden)).getField("id"), "left")
              st = State(joined, st.vars :+ (hidden -> KV))
            }
            Vbl(hidden)
          case _ => FnCall(fn, Seq(argR))
        }
      // a lambda variable shadowing a bound name is not that binding:
      // its body is left to the compiler
      case lc: ListComp if st.has(lc.variable) => lc
      case lp: ListPred if st.has(lp.variable) => lp
      case other => mapChildren(other)(rewriteExpr)
    }
    val e1 = rewriteExpr(e0)
    (st, e1)
  }

  private def buildProjectionImpl(st: State, p: Projection,
      items0: Seq[(Expr, String)]): State = {

    val anyAgg = items0.exists { case (e, _) => Compiler.hasAgg(e) }
    var out: State = null

    if (!anyAgg) {
      val comp = compiler(st)
      val cols = items0.map { case (e, nm) =>
        val ce = comp.compile(e)
        (ce.col.as(nm), ce.kind)
      }
      // keep ORDER BY access to pre-projection vars: project onto a frame
      // that still carries the old columns, sort, then select
      val withItems = items0.zip(cols).foldLeft(st.df) {
        case (d, ((_, nm), (c, _))) => d.withColumn(nm, c)
      }
      val sorted = applyOrder(withItems, p, st, items0.map(_._2), items0)
      val selected = sorted.select(items0.map(i => col(Compiler.q(i._2))): _*)
      out = State(selected, items0.zip(cols).map { case ((_, nm), (_, k)) => nm -> k }.toVector)
    } else {
      // implicit grouping: non-aggregate items are the keys
      // (transformCypherProjection parse_graph.c:441-627); jsonb keys
      // group by jsonb equality via their sort key (below)
      val comp = compiler(st)
      val keyItems = items0.filter { case (e, _) => !Compiler.hasAgg(e) }
      val aggItems = items0.filter { case (e, _) => Compiler.hasAgg(e) }
      val keyCols = keyItems.map { case (e, nm) =>
        val ce = comp.compile(e); (nm, ce.col.as(nm), ce.kind)
      }
      // rewrite agg items: each aggregate node -> generated column ref
      var aggCols = Vector.empty[(String, Column)]
      def aggRef(fn: FnCall): Expr = {
        val nm = s"__agg_${aggCols.length}"
        aggCols :+= (nm -> aggColumn(comp, fn))
        Vbl(nm)
      }
      def cStarRef(): Expr = {
        val nm = s"__agg_${aggCols.length}"
        aggCols :+= (nm -> J.fromLong(count(lit(1))))
        Vbl(nm)
      }
      val rewritten = aggItems.map { case (e, nm) =>
        (Compiler.rewriteAggs(e, keyItems.map(ki => ki._1 -> Vbl(ki._2)).toMap,
          aggRef, cStarRef), nm)
      }
      // PG groups jsonb keys by EQUALITY (7 and 7.0 are one group), not
      // by rendered text: jsonb keys group on their memcomparable sort
      // key, with first() carrying a representative rendering. Vertex/
      // edge keys group on their 8-byte id (the id determines the
      // element) so the exchange never carries property strings; the
      // struct rides along as first().
      val keyReprs = keyCols.collect {
        case (nm, c, KJ) => first(c).as(nm)
        case (nm, c, KV) => first(c).as(nm)
        case (nm, c, KE) => first(c).as(nm)
      }
      val allAggs = keyReprs ++ aggCols.map { case (n2, c2) => c2.as(n2) }
      val grouped =
        if (keyCols.isEmpty)
          st.df.agg(allAggs.head, allAggs.tail: _*)
        else {
          val gb = keyCols.map {
            case (nm, c, KJ) => J.sortKey(c).as(s"__gk_$nm")
            case (nm, c, KV) => c.getField("id").as(s"__gk_$nm")
            case (nm, c, KE) => c.getField("id").as(s"__gk_$nm")
            case (_, c, _) => c
          }
          st.df.groupBy(gb: _*).agg(allAggs.head, allAggs.tail: _*)
        }
      // post-agg frame: key cols keep their var kinds; agg refs are jsonb
      val postVars: Vector[(String, Kind)] =
        keyCols.map(k => (k._1, k._3)).toVector ++ aggCols.map(a => (a._1, KJ))
      val postComp = new Compiler(postVars.toMap, params, labidToName, labidToLabelsJson)
      val finalCols = items0.map { case (e, nm) =>
        if (!Compiler.hasAgg(e)) (col(Compiler.q(nm)).as(nm),
          keyCols.find(_._1 == nm).map(_._3).getOrElse(KJ))
        else {
          val re = rewritten.find(_._2 == nm).get._1
          val ce = postComp.compile(re)
          (ce.col.as(nm), ce.kind)
        }
      }
      val projected = grouped.select(finalCols.map(_._1): _*)
      val sorted = applyOrder(projected, p,
        State(projected, items0.map(_._2).zip(finalCols.map(_._2)).toVector),
        items0.map(_._2), items0)
      out = State(sorted, items0.map(_._2).zip(finalCols.map(_._2)).toVector)
    }

    var df = out.df
    if (p.distinct) {
      // PG jsonb DISTINCT dedups by jsonb EQUALITY (7 and 7.0 are
      // equal), not by rendered text: key jsonb columns on their
      // memcomparable sort key, everything else on the value itself
      val jsonbVars = out.vars.collect { case (n, KJ) => n }
      if (jsonbVars.isEmpty) df = df.dropDuplicates()
      else {
        val hidden = jsonbVars.zipWithIndex.map { case (n, i) => (s"__dk_$i", n) }
        hidden.foreach { case (h, n) =>
          df = df.withColumn(h, J.sortKey(col(Compiler.q(n))))
        }
        val keys = out.vars.collect { case (n, k) if k != KJ => n } ++
          hidden.map(_._1)
        df = df.dropDuplicates(keys).drop(hidden.map(_._1): _*)
      }
    }
    p.skip.foreach { e => df = df.offset(constLong(e).toInt) }
    p.limit.foreach { e => df = df.limit(constLong(e).toInt) }
    var res = State(df, out.vars)
    p.where.foreach { w =>
      // the hidden columns serve the filter only: the projection's own
      // columns are what the clause binds
      res = State(filterWhere(res, w).df
        .select(df.columns.map(c => col(Compiler.q(c))): _*), res.vars)
    }
    res
  }

  private def constLong(e: Expr): Long = e match {
    case Lit(graft.jsonb.JNum(n)) => n.longValue
    case Param(n) => params.get(n) match {
      case Some(graft.jsonb.JNum(v)) => v.longValue
      case _ => throw new IllegalArgumentException("SKIP/LIMIT must be numeric")
    }
    case _ => throw new IllegalArgumentException("SKIP/LIMIT must be a literal")
  }

  /** Aggregate compilation. DISTINCT variants collect the group into a
    * jsonb array, dedup by jsonb equality, then fold — one extra pass
    * over each group's values, still shuffle-free beyond the groupBy.
    */
  private def aggColumn(comp: Compiler, f: FnCall): Column = {
    if (f.args.exists(Compiler.hasAgg))
      throw new IllegalArgumentException(
        "aggregate function calls cannot be nested")
    val arg = comp.toJ(comp.compile(f.args.head))
    def distinctArr = J.arrDistinct(JsonbAggregates.collect(arg))
    f.name match {
      case "count" =>
        // DISTINCT counts jsonb values by jsonb EQUALITY (7 = 7.0):
        // distinct over the memcomparable sort key, not the rendering
        if (f.distinct) J.fromLong(count_distinct(J.sortKey(arg)))
        else J.fromLong(count(arg))
      case "sum" =>
        if (f.distinct) J.arrSum(distinctArr) else JsonbAggregates.sum(arg)
      case "avg" =>
        if (f.distinct) J.arrAvg(distinctArr) else JsonbAggregates.avg(arg)
      case "min" =>
        if (f.distinct) J.arrMin(distinctArr) else JsonbAggregates.min(arg)
      case "max" =>
        if (f.distinct) J.arrMax(distinctArr) else JsonbAggregates.max(arg)
      case "collect" =>
        if (f.distinct) distinctArr else JsonbAggregates.collect(arg)
      case "stdev" => J.fromDouble(stddev_samp(J.toDouble(arg)))
      case "stdevp" => J.fromDouble(stddev_pop(J.toDouble(arg)))
      case other => throw new IllegalArgumentException(s"unknown aggregate $other")
    }
  }

  /** ORDER BY with jsonb sort semantics: each jsonb key becomes one
    * memcomparable binary column (jsonb_sort_key) whose unsigned byte
    * order equals jsonb btree order exactly — no custom physical
    * operator, and range partitioning works for distributed sorts.
    */
  private def applyOrder(df: DataFrame, p: Projection, st: State,
      itemNames: Seq[String], itemExprs: Seq[(Expr, String)] = Nil): DataFrame = {
    if (p.orderBy.isEmpty) return df
    val comp = new Compiler(st.vars.toMap, params, labidToName, labidToLabelsJson)
    val byExpr = itemExprs.toMap
    val sortCols = p.orderBy.flatMap { case (e, asc) =>
      // by-alias reference, positional 1-based index, or a structural
      // match of an output item (e.g. ORDER BY count(*))
      val ce: Compiler#CE = e match {
        case Vbl(n) if itemNames.contains(n) =>
          val k = st.vars.find(_._1 == n).map(_._2).getOrElse(KJ)
          comp.CE(col(Compiler.q(n)), k)
        case _ if byExpr.contains(e) =>
          val nm = byExpr(e)
          val k = st.vars.find(_._1 == nm).map(_._2).getOrElse(KJ)
          comp.CE(col(Compiler.q(nm)), k)
        case Lit(graft.jsonb.JNum(n)) if n.intValue >= 1 && n.intValue <= itemNames.length =>
          val nm = itemNames(n.intValue - 1)
          val k = st.vars.find(_._1 == nm).map(_._2).getOrElse(KJ)
          comp.CE(col(Compiler.q(nm)), k)
        case other => comp.compile(other)
      }
      val cols: Seq[Column] = ce.kind match {
        // one memcomparable binary key = exact jsonb btree order,
        // including recursive count-first container comparison
        // (jsonb_sort_key) — range-partitionable, so distributed sorts
        // need no custom comparator
        case KJ => Seq(graft.expr.J.sortKey(ce.col))
        case _ => Seq(ce.col)
      }
      cols.map(c => if (asc) c.asc_nulls_last else c.desc_nulls_last)
    }
    df.orderBy(sortCols: _*)
  }

  // =========================================================== helpers

  /** Stable per-row index for id assignment (two-pass, per-partition
    * contiguous — the distributed-safe id allocator; SURVEY §7.3 item 4).
    */
  private[cypher] def withRowIndex(df: DataFrame, name: String): DataFrame =
    withRowIndexCounted(df, name)._1

  /** (indexed frame, row count). Pure DataFrame-space implementation:
    * monotonically_increasing_id packs (partitionId << 33 | row-in-
    * partition), so a contiguous 0..n-1 index is that local index plus
    * a per-partition offset from one narrow count-per-partition job —
    * whose collect also yields the total row count for free. The
    * previous rdd.zipWithIndex round-trip decoded EVERY row (jsonb
    * documents included) to external objects and re-encoded them — a
    * full decode+encode pass of the batch on every write statement.
    * Same determinism contract as zipWithIndex: both passes evaluate
    * the same deterministic plan, so each row keeps its partition and
    * position; callers snapshot (localCheckpoint) right after. The
    * offsets are a dense array indexed by partition id (empty
    * partitions, absent from the counts, fill in), so the per-row
    * lookup is O(1).
    */
  private[cypher] def withRowIndexCounted(df: DataFrame,
      name: String): (DataFrame, Long) = {
    import org.apache.spark.sql.functions._
    val counts = df.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sizes = Array.tabulate(
      if (counts.isEmpty) 0 else counts.keys.max + 1)(counts.getOrElse(_, 0L))
    // offsets(p) = rows in partitions before p
    val offsets = sizes.scanLeft(0L)(_ + _).init
    val out = df.withColumn("__rix_mid", monotonically_increasing_id())
      .withColumn(name,
        typedLit(offsets).getItem(
          shiftrightunsigned(col("__rix_mid"), 33).cast("int")) +
          col("__rix_mid").bitwiseAND(lit((1L << 33) - 1)))
      .drop("__rix_mid")
    (out, sizes.sum)
  }
}
