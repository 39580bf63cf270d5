package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.{J, JsonbNormalize}
import graft.graph.{GraphCatalog, GraphId}
import Ast._
import Kind._

/** Graph write operators over copy-on-write parquet label tables
  * (SURVEY §2.9 — ModifyGraph CREATE/DELETE/SET/MERGE). Writes apply at
  * clause boundaries, giving the reference's eager visibility semantics
  * (assign_query_eager parse_graph.c:5641) by construction.
  *
  * Scale notes: id assignment reserves a contiguous locid range on the
  * driver then assigns per-row as a per-partition offset plus the
  * row's position in its partition (`Builder.withRowIndexCounted`: one
  * count-per-partition collect, no single-partition window);
  * deletes/updates rewrite only the affected label tables via
  * anti-/left-joins on id.
  */
object WriteOps {

  // ============================================================= CREATE

  /** CREATE/MERGE property maps must evaluate to a jsonb OBJECT (or
    * NULL, which the reference folds to {}) — "jsonb object is
    * expected for property map" otherwise (cypher_dml.out). Canonical
    * jsonb strings identify objects by their first character, so the
    * check costs one codegen'd comparison per row.
    */
  private def objectProps(c: Column): Column =
    when(c.isNull, lit("{}"))
      .when(substring(c, 1, 1) === "{", c)
      .otherwise(raise_error(
        lit("jsonb object is expected for property map")).cast("string"))

  /** CREATE pattern per input row (ExecCreateGraph execCypherCreate.c:30).
    * New vertices/edges get ids packed from a driver-reserved range
    * (SURVEY §7.3 hard part 4).
    *
    * @param validated whether the caller already ran
    *   [[validateCreatePaths]] on `paths` (MERGE does, before its
    *   match/create fork)
    */
  def create(b: Builder, st0: State, paths: Seq[PathPattern],
      validated: Boolean = false): State = {
    if (!validated) validateCreatePaths(st0.vars, paths)
    var st = st0
    // snapshot the input FIRST (the write makes the frame's lineage
    // side-effecting; localCheckpoint isolates it), then index over the
    // cached blocks: the partition-counts pass and every __cidx
    // consumer are cheap cached projections, and the input plan
    // executes exactly once. The row count rides the counts collect.
    val (indexed, n) = b.withRowIndexCounted(
      st.df.localCheckpoint(true), "__cidx")
    var df = indexed
    var vars = st.vars

    // appends DEFER until the whole statement has validated and every
    // element column has evaluated (forced below): a guard or runtime
    // error in a later path/property map must not leave earlier paths
    // half-written (statement-level atomicity; sequence gaps on failed
    // statements remain, like PG sequences). Checks and appends are
    // SEPARATE passes — every label's constraints validate against the
    // forced frame before the first durable append, so a CHECK/UNIQUE
    // violation on the Nth label cannot leave labels 1..N-1 written.
    // The checks pass is STATEMENT-LEVEL: each constraint sees the
    // union of every pending element whose label it governs, so a
    // cross-element duplicate (`CREATE (:u {id:3}), (:u {id:3})`)
    // still violates a unique constraint even though no single
    // element's batch repeats the key and nothing has been appended
    // yet.
    val pendingChecks = scala.collection.mutable.ArrayBuffer
      .empty[(String, DataFrame => DataFrame)]
    val deferredAppends = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame => Unit]
    // one new element per input row: resolve its label of `kind`,
    // reserve ids, bind the struct (id, the `ends` fields, properties)
    // and register its statement-level check and deferred append
    def element(name: String, label: String, kind: Kind, props: Option[Expr],
        ends: Seq[(String, Column)]): Unit = {
      b.labelOfKind(label, if (kind == KV) 'v' else 'e')
      val lm = b.catalog.label(b.graph, label).get
      val base = b.catalog.reserveIds(b.graph, label, math.max(n, 1L))
      val idCol = (lit(GraphId.pack(lm.labid, 0L)) + lit(base) + col("__cidx")).cast("long")
      val comp = b.compiler(State(df, vars))
      val propsCol = props match {
        case Some(pe) => objectProps(comp.toJ(comp.compile(pe)))
        case None => lit("{}")
      }
      val fields = ("id" -> idCol) +: ends :+ ("properties" -> propsCol)
      df = df.withColumn(name, struct(fields.map { case (f, c) => c.as(f) }: _*))
      vars = vars :+ (name -> kind)
      val elem = col(Compiler.q(name))
      pendingChecks += (label -> { fdf: DataFrame =>
        fdf.select(elem.getField("properties").as("properties"))
      })
      deferredAppends += { fdf =>
        b.catalog.append(b.graph, label,
          fdf.select(fields.map { case (f, _) => elem.getField(f).as(f) }: _*))
        if (kind == KV) b.insertedVertices += n else b.insertedEdges += n
      }
    }
    paths.foreach { p =>
      // vertices first, then edges (edges need endpoint ids)
      var prevName: String = null
      val elems: Seq[(Option[RelPattern], NodePattern)] =
        (None, p.head) +: p.tail.map { case (r, nd) => (Some(r), nd) }
      val boundNames = scala.collection.mutable.ArrayBuffer[String]()
      val edgeNames = scala.collection.mutable.ArrayBuffer[String]()
      elems.foreach { case (relOpt, node) =>
        val nodeName = node.variable.getOrElse(s"__cv_${vars.length}_${boundNames.length}")
        // new vertex; unlabeled CREATE targets the implicit base label
        if (!vars.exists(_._1 == nodeName))
          element(nodeName, node.label.getOrElse("ag_vertex"), KV, node.props, Nil)
        relOpt.foreach { rel =>
          require(rel.varLength.isEmpty, "CREATE cannot use variable-length relationships")
          val relName = rel.variable.getOrElse(s"__ce_${vars.length}_${boundNames.length}")
          val tpe = rel.types.headOption.getOrElse(
            throw new IllegalArgumentException("CREATE requires a relationship type"))
          val (startName, endName) =
            if (rel.direction == 1) (prevName, nodeName) else (nodeName, prevName)
          element(relName, tpe, KE, rel.props,
            Seq("start" -> col(Compiler.q(startName)).getField("id"),
              "end" -> col(Compiler.q(endName)).getField("id")))
          edgeNames += relName
        }
        prevName = nodeName
        boundNames += nodeName
      }
      // bind path variable if present: boundNames/edgeNames were
      // appended in pattern order as each element bound, so they ARE
      // the path — no positional lookup (indexOf collapses equal
      // anonymous NodePatterns to the first occurrence) and no
      // var-suffix arithmetic (takeRight leaked previously-bound edge
      // vars into the path when the pattern reuses matched vertices)
      p.variable.foreach { pv =>
        val vcols = boundNames.toSeq.map(n => col(Compiler.q(n)))
        val ecols = edgeNames.toSeq.map(n => col(Compiler.q(n)))
        df = df.withColumn(pv, struct(
          array(vcols: _*).as("vertices"),
          (if (ecols.isEmpty) b.emptyEdgeArray else array(ecols: _*)).as("edges")))
        vars = vars :+ (pv -> KP)
      }
    }
    // force every element column (ids + property maps incl. the
    // object-shape raise_error) BEFORE the first append; then ALL
    // constraint checks, then all appends
    val finalDf = df.localCheckpoint(true)
    checkConstraints(b, pendingChecks.toSeq.map { case (l, fx) =>
      (l, fx(finalDf)) })
    deferredAppends.foreach(_(finalDf))
    State(finalDf.drop("__cidx"), vars)
  }

  /** Write-time constraint validation (reference:
    * CreateConstraintCommand graphcmds.c:550; CHECK/UNIQUE tests
    * cypher_ddl.sql:240-362). Bare identifiers in constraint bodies
    * refer to properties of the inserted element.
    *
    * Statement-level: each constraint validates the UNION of
    * every pending element whose label it governs, so cross-element
    * and cross-subtree duplicates within one statement are caught
    * BEFORE anything appends (the reference sees them because each
    * row's insert consults the index the previous row just updated).
    */
  private def checkConstraints(b: Builder,
      elems: Seq[(String, DataFrame)]): Unit = {
    val all = b.catalog.constraints(b.graph)
    if (all.isEmpty || elems.isEmpty) return
    val applicable = all.flatMap { c =>
      val hit = elems.filter { case (l, _) =>
        b.catalog.ancestors(b.graph, l).contains(c.label) }
      if (hit.isEmpty) None
      else Some((c, hit.map(_._2).reduce(_ unionAll _)))
    }
    if (applicable.isEmpty) return
    // compile the body against a one-var frame (__self holds the props).
    // The rewrite carries a shadow set so lambda variables of list
    // predicates/comprehensions (`all(x IN tags WHERE x <> '')`) stay
    // bound to the lambda, not rewritten to __self.x (r10 ADVICE).
    val selfVars: Vector[(String, Kind)] = Vector("__self" -> KV)
    def rewriteTo(shadow: Set[String])(e: Expr): Expr = {
      val mc = rewriteTo(shadow) _
      e match {
        case Vbl(n) => if (shadow(n)) e else Prop(Vbl("__self"), n)
        case ListPred(op, v, list, where) =>
          ListPred(op, v, mc(list), rewriteTo(shadow + v)(where))
        case ListComp(v, list, where, proj) =>
          val inner = rewriteTo(shadow + v) _
          ListComp(v, mc(list), where.map(inner), proj.map(inner))
        case other => mapChildren(other)(mc)
      }
    }
    val toSelf = rewriteTo(Set.empty) _
    val comp = new Compiler(selfVars.toMap, Map.empty, Map.empty, Map.empty)
    applicable.foreach { case (c, newRows) =>
      val frame = newRows.select(struct(lit(0L).as("id"),
        col("properties").as("properties")).as("__self"))
      val body = Parser.parseExpression(c.expr)
      c.kind match {
        case "check" =>
          // PG CHECK 3VL: only FALSE violates — a NULL check result
          // passes (cypher_ddl.out:729 {a:'agens', d:'graph'} passes
          // `a != b` with b absent)
          val cond = comp.toBool(comp.compile(toSelf(body)))
          if (!frame.where(!coalesce(cond, lit(true))).isEmpty)
            throw new IllegalStateException(
              s"""new row for label "${c.label}" violates check constraint "${c.name}"""")
        case "unique" =>
          // key identity is the memcomparable sort key, NOT the
          // rendered string: the btree unique index compares jsonb
          // VALUES, where 1 and 1.0 are one key (renderNum preserves
          // display scale, so a string identity would let {id: 1.0}
          // slip past an existing {id: 1})
          val keyCol = J.sortKey(comp.toJ(comp.compile(toSelf(body))))
          val newKeys = frame.select(keyCol.as("__k")).where(col("__k").isNotNull)
          // within-batch duplicates
          if (!newKeys.groupBy("__k").count().where(col("count") > 1).isEmpty)
            throw new IllegalStateException(
              s"""duplicate key value violates unique constraint "${c.name}"""")
          // against the existing subtree
          val existing = b.catalog.scan(b.graph, c.label)
            .select(struct(lit(0L).as("id"), col("properties")).as("__self"))
            .select(keyCol.as("__k"))
          if (!newKeys.join(existing, Seq("__k"), "left_semi").isEmpty)
            throw new IllegalStateException(
              s"""duplicate key value violates unique constraint "${c.name}"""")
      }
    }
  }

  // ============================================================= DELETE

  /** DELETE / DETACH DELETE (ExecDeleteGraph execCypherDelete.c:45).
    * Victims resolve to id sets; label tables rewritten via anti-join.
    */
  def delete(b: Builder, st: State, d: DeleteClause): State = {
    val comp = b.compiler(st)
    val frame = st.df.localCheckpoint(true)
    var vertexIds: DataFrame = null
    var edgeIds: DataFrame = null
    def addV(df: DataFrame): Unit =
      vertexIds = if (vertexIds == null) df else vertexIds.unionAll(df)
    def addE(df: DataFrame): Unit =
      edgeIds = if (edgeIds == null) df else edgeIds.unionAll(df)

    d.exprs.foreach {
      // DELETE startnode(e)/endnode(e) (edge_start_vertex graph.c:986;
      // cypher_dml.sql DETACH DELETE end_vertex(a)): deletion only
      // needs the vertex ID, which the edge already carries — no
      // vertex re-fetch join
      case FnCall(fn @ ("startnode" | "endnode"), Seq(arg), _)
          if comp.compile(arg).kind == KE =>
        val f = if (fn == "startnode") "start" else "end"
        addV(frame.select(comp.compile(arg).col.getField(f).as("id")))
      case e =>
      val ce = comp.compile(e)
      ce.kind match {
        case KV => addV(frame.select(ce.col.getField("id").as("id")))
        case KE => addE(frame.select(ce.col.getField("id").as("id")))
        case KEL => addE(frame.select(explode(ce.col).as("__x"))
          .select(col("__x").getField("id").as("id")))
        case KVL => addV(frame.select(explode(ce.col).as("__x"))
          .select(col("__x").getField("id").as("id")))
        case KP =>
          addV(frame.select(explode(ce.col.getField("vertices")).as("__x"))
            .select(col("__x").getField("id").as("id")))
          addE(frame.select(explode(ce.col.getField("edges")).as("__x"))
            .select(col("__x").getField("id").as("id")))
        case _ => throw new IllegalArgumentException(s"cannot DELETE expression $e")
      }
    }

    val vIds = if (vertexIds == null) null else vertexIds.distinct().localCheckpoint(true)
    var eIds = if (edgeIds == null) null else edgeIds.distinct()

    if (vIds != null) {
      // incident edges: DETACH deletes them; plain DELETE errors if any
      // remain (execCypherDelete.c vertex-has-edges check)
      // two equi semi-joins (hash, broadcastable), NOT one OR-condition
      // join — an OR disjunction can't hash-join and would nested-loop
      // the whole edge set against the victim list
      val allEdges = b.catalog.scanAll(b.graph, 'e')
      val incident = allEdges.join(vIds, allEdges("start") === vIds("id"), "left_semi")
        .select(col("id"))
        .unionAll(
          allEdges.join(vIds, allEdges("end") === vIds("id"), "left_semi")
            .select(col("id")))
      if (d.detach) {
        eIds = if (eIds == null) incident else eIds.unionAll(incident)
      } else {
        val pending = if (eIds == null) incident
          else incident.join(eIds, Seq("id"), "left_anti")
        if (!pending.isEmpty)
          throw new IllegalStateException("vertices with edges can not be removed")
      }
    }
    val eIdsF = if (eIds == null) null else eIds.distinct().localCheckpoint(true)

    // both victim-id sets are snapshotted before any file changes
    val removed = patchLabels(b,
      Seq(eIdsF -> 'e', vIds -> 'v').filter(_._1 != null)) {
      (cur, ids) => cur.join(ids, Seq("id"), "left_anti")
    }
    b.deletedEdges += removed.getOrElse('e', 0L)
    b.deletedVertices += removed.getOrElse('v', 0L)
    State(frame, st.vars)
  }

  /** Rewrite the label tables that hold the ids of each `(ids, kind)`
    * set (an "id"-column frame the caller snapshotted): one labid
    * collect per set, then `patch(rows, ids)` over the touched files of
    * each hit label (GraphCatalog.patchFiles: files whose id range holds
    * no victim keep their bytes, so a point write against a huge label
    * does not rewrite the label). Labels resolve within the set's kind
    * rather than trusting labid-global uniqueness: if labid allocation
    * ever became per-kind, a vertex write must not patch an edge table
    * whose labid collides.
    *
    * Each label's patch touches only its own directory under its own
    * label lock with an atomic meta merge, so the patches are
    * independent and run CONCURRENTLY: each is a chain of small
    * driver-bound actions (stats join, snapshot, staging write), and
    * overlapping them collapses the per-statement driver wait (guide
    * §2.6 — overlap independent jobs; against a serial dispatch, 10
    * interleaved graphbench write_mix pairs on 4 cores put the two-label
    * DETACH DELETE's traced builder time at 1.71 s vs 2.37 s median).
    * Returns the rows removed per kind.
    */
  private def patchLabels(b: Builder, sets: Seq[(DataFrame, Char)])
      (patch: (DataFrame, DataFrame) => DataFrame): Map[Char, Long] = {
    val labels = b.catalog.labels(b.graph)
    val tasks = sets.flatMap { case (ids, kind) =>
      val byLabid = labels.filter(_.kind == kind).map(l => l.labid -> l.name).toMap
      ids.select(GraphId.labidOf(col("id"))).distinct().collect().toSeq
        .flatMap(r => byLabid.get(r.getInt(0)).map(n => (kind, n, ids)))
    }
    def run(t: (Char, String, DataFrame)): (Char, Long) = {
      val (kind, lname, ids) = t
      val (before, after) = b.catalog.patchFiles(b.graph, lname, ids)(patch(_, ids))
      (kind, before - after)
    }
    val removed =
      if (tasks.length <= 1) tasks.map(run)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(tasks.length, 4))
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence(tasks.map(t => Future(run(t)))), Duration.Inf)
        finally pool.shutdown()
      }
    removed.groupMapReduce(_._1)(_._2)(_ + _)
  }

  // ================================================================ SET

  /** SET / REMOVE / += (ExecSetGraph execCypherSet.c:141).
    * `cond` restricts affected rows (used by MERGE's ON CREATE/ON MATCH).
    */
  def set(b: Builder, st: State, items: Seq[SetItem], cond: Column): State = {
    // __setord gives last-write-wins ordering for multiple updates of
    // one element within a statement (enable_multiple_update analog).
    // Key = bound element ids in binding order — the deterministic
    // analog of PG's ascending nested-loop iteration order.
    val ordCols = st.vars.collect {
      case (w, KV | KE) => format_string("%020d", col(Compiler.q(w)).getField("id"))
    }
    val frame = st.df.withColumn("__setord",
        if (ordCols.isEmpty) lit("0") else concat(ordCols: _*))
      .localCheckpoint(true)
    // group items per target variable, compose property transforms
    val byVar = scala.collection.mutable.LinkedHashMap[String, Column]()
    val comp = b.compiler(State(frame, st.vars))
    def currentProps(v: String): Column =
      byVar.getOrElse(v, col(Compiler.q(v)).getField("properties"))

    items.foreach {
      case SetProp(Prop(Vbl(v), k), value) =>
        val newVal = comp.toJ(comp.compile(value))
        byVar(v) = J.setKey(currentProps(v), lit(k), newVal)
      case SetProp(Index(Vbl(v), idxE), value) =>
        val newVal = comp.toJ(comp.compile(value))
        byVar(v) = J.setKey(currentProps(v),
          J.asText(comp.toJ(comp.compile(idxE))), newVal)
      case RemoveProp(Prop(Vbl(v), k)) =>
        byVar(v) = J.setKey(currentProps(v), lit(k), lit(null).cast("string"))
      case SetMap(v, value, add) =>
        value match {
          case graft.cypher.Ast.Lit(graft.jsonb.JNull) =>
            // cypher_dml.out:2334-2338, 2381-2385
            throw new IllegalArgumentException(
              "cannot set property map to NULL (use {} instead of NULL to remove all properties)")
          case _ => ()
        }
        val m = JsonbNormalize.normalize(comp.toJ(comp.compile(value)))
        byVar(v) = if (add) J.concat(currentProps(v), m) else m
      case other => throw new IllegalArgumentException(s"unsupported SET item $other")
    }

    var newDf = frame
    byVar.foreach { case (v, newProps) =>
      val kind = st.kinds.getOrElse(v,
        throw new IllegalArgumentException(s"variable `$v` not defined"))
      require(kind == KV || kind == KE, s"SET target `$v` must be a graph element")
      // updates table: id -> new properties; last write (statement row
      // order) wins when several rows update one element. With
      // enable_multiple_update off the reference WARNS and keeps the
      // FIRST update instead (execCypherSet.c:316-324 HASH_FIND skip),
      // so the off-mode flips to min_by and reports the repeated
      // elements (bounded sample — the count is the aggregate signal).
      val multiOk = b.spark.conf
        .get("spark.graft.enableMultipleUpdate", "true") != "false"
      val (updates, nUpd) = GraphCatalog.checkpointCounted(newDf.where(cond)
        .select(col(Compiler.q(v)).getField("id").as("id"),
          newProps.as("__np"), col("__setord"))
        .groupBy("id").agg(
          (if (multiOk) max_by(col("__np"), col("__setord"))
           else min_by(col("__np"), col("__setord"))).as("__np"),
          count(lit(1)).as("__nupd")))
      if (!multiOk) {
        val repeated = updates.where(col("__nupd") > 1)
        val total = repeated.count()
        repeated.select("id").limit(5).collect().foreach { r =>
          val gid = r.getLong(0)
          System.err.println(
            s"WARNING:  graph element(${GraphId.labid(gid)},${GraphId.locid(gid)}) " +
              "has been SET multiple times")
        }
        if (total > 5) System.err.println(
          s"WARNING:  ... and ${total - 5} more elements SET multiple times")
      }
      b.updatedProperties += nUpd
      patchLabels(b, Seq(updates -> (if (kind == KV) 'v' else 'e'))) {
        (cur, upd) => cur.join(upd.select(col("id"), col("__np")), Seq("id"), "left")
          .withColumn("properties", coalesce(col("__np"), col("properties")))
          .drop("__np")
      }
      // refresh EVERY in-flight element var by id (heap semantics:
      // aliases of the same element observe the update; PG rereads the
      // heap with a new CommandId between clauses)
      st.vars.foreach { case (w, wk) =>
        if (wk == KV || wk == KE) {
          val upd = updates.select(col("id").as("__uid"), col("__np").as("__unp"))
          val wId = col(Compiler.q(w)).getField("id")
          val props2 = coalesce(col("__unp"), col(Compiler.q(w)).getField("properties"))
          newDf = newDf.join(upd, wId === col("__uid"), "left")
          newDf =
            if (wk == KV)
              newDf.withColumn(w, struct(wId.as("id"), props2.as("properties")))
            else
              newDf.withColumn(w, struct(wId.as("id"),
                col(Compiler.q(w)).getField("start").as("start"),
                col(Compiler.q(w)).getField("end").as("end"),
                props2.as("properties")))
          newDf = newDf.drop("__uid", "__unp")
        }
      }
    }
    State(b.dropShredCols(newDf.drop("__setord")), st.vars)
  }

  // ============================================================== MERGE

  /** Pattern-validity rules of transformCreatePattern as a PURE pass,
    * run by create() before it builds anything. MERGE must run them
    * UNCONDITIONALLY at statement start: its create() branch only
    * executes when rows miss, and the reference rejects an invalid
    * pattern at parse time regardless of whether anything would be
    * created.
    *
    * The rules (parse_graph.c; cypher_dml.out): a path variable must be
    * fresh; an edge variable must be fresh; a vertex may RE-reference
    * an earlier binding only bare (no label/props — the connect-to-
    * existing form), and a path that is just such a re-reference
    * creates nothing and needs a relationship. A labeled or propertied
    * re-occurrence of a node var earlier in the SAME path is a
    * duplicate too (transformCreateNode's findTarget scans the whole
    * statement targetList — parse_graph.c isNodeForRef).
    */
  private[cypher] def validateCreatePaths(vars0: Seq[(String, Kind)],
      paths: Seq[PathPattern], cmd: String = "CREATE"): Unit = {
    var vars = vars0
    val pathVarsSeen = scala.collection.mutable.Set.empty[String]
    def dup(n: String): Nothing =
      throw new IllegalArgumentException(s"""duplicate variable "$n"""")
    paths.foreach { p =>
      p.variable.foreach { pv =>
        if (vars.exists(_._1 == pv) || pathVarsSeen(pv)) dup(pv)
        pathVarsSeen += pv
      }
      val nodeVarsInPath =
        (p.head.variable ++ p.tail.flatMap(_._2.variable)).toSeq
      val edgeVarsInPath = p.tail.flatMap(_._1.variable)
      val seenNodesInPath = scala.collection.mutable.Set.empty[String]
      def vertexRef(nv: String, labeled: Boolean): Unit = {
        if (pathVarsSeen(nv) || edgeVarsInPath.contains(nv)) dup(nv)
        val bound = vars.find(_._1 == nv)
        if (bound.exists(_._2 != KV)) dup(nv)
        if ((bound.isDefined || seenNodesInPath(nv)) && labeled) dup(nv)
        seenNodesInPath += nv
      }
      p.head.variable.foreach { hv =>
        vertexRef(hv, p.head.label.nonEmpty || p.head.props.nonEmpty)
        if (vars.exists(_._1 == hv) && p.tail.isEmpty)
          throw new IllegalArgumentException(
            "there must be at least one relationship")
      }
      p.tail.foreach { case (r, nd) =>
        r.variable.foreach { rv =>
          if (vars.exists(_._1 == rv) || pathVarsSeen(rv) ||
              nodeVarsInPath.contains(rv) ||
              edgeVarsInPath.count(_ == rv) > 1) dup(rv)
        }
        nd.variable.foreach(nv =>
          vertexRef(nv, nd.label.nonEmpty || nd.props.nonEmpty))
        if (r.direction == 0) throw new IllegalArgumentException(
          s"only directed relationships are allowed in $cmd")
        if (r.types.size != 1) throw new IllegalArgumentException(
          s"only one relationship type is allowed for $cmd")
      }
      if (p.head.label.contains("ag_vertex") ||
          p.tail.exists(_._2.label.contains("ag_vertex")))
        throw new IllegalArgumentException(
          "specifying default label is not allowed")
      if (p.tail.exists(_._1.types.contains("ag_edge")))
        throw new IllegalArgumentException("cannot create edge on default label")
      // the statement binds the path's new vars for LATER paths
      nodeVarsInPath.foreach { nv =>
        if (!vars.exists(_._1 == nv)) vars = vars :+ (nv -> (KV: Kind)) }
      edgeVarsInPath.foreach(ev => vars = vars :+ (ev -> (KE: Kind)))
    }
  }

  /** MERGE: per input row match-or-create with batch dedup
    * (ExecMergeGraph execCypherMerge.c:35; JOIN_CYPHER_MERGE).
    *
    * When an ON CREATE/ON MATCH expression reads the merged variable's
    * own properties (e.g. `ON MATCH SET a.cnt = a.cnt + 1`), rows are
    * order-dependent: each input row must observe earlier rows'
    * updates. That shape takes the row-sequential path (bounded driver
    * loop — the reference is row-at-a-time here too and the shape is
    * inherently sequential); everything else uses the set-based path.
    */
  def merge(b: Builder, st0: State, m: MergeClause): State = {
    // pattern rules apply whether or not anything misses (see
    // validateCreatePaths) — run them before the match/create fork
    // (reference: transformMergeRel, parse_graph.c:4693-4700)
    validateCreatePaths(st0.vars, Seq(m.path), cmd = "MERGE")
    val mergeVars = m.path.varNames.toSet
    def readsMergeVar(e: Expr): Boolean = e match {
      case Vbl(n) => mergeVars.contains(n)
      case x => children(x).exists(readsMergeVar)
    }
    val selfRef = (m.onCreate ++ m.onMatch).exists {
      // the TARGET can read the merged var too: SET n[n.slot] = 1 is
      // order-dependent through its subscript expression, not its value
      case SetProp(t, v) => readsMergeVar(v) || (t match {
        case Index(_, i) => readsMergeVar(i)
        case _ => false
      })
      case SetMap(_, v, _) => readsMergeVar(v)
      case _ => false
    }
    if (selfRef) {
      // snapshot first, index over the cached blocks (same rule as
      // create(): one execution of the input plan, counts ride along)
      val (tagged, n) = b.withRowIndexCounted(
        st0.df.localCheckpoint(true), "__seq")
      require(n <= 10000,
        "row-sequential MERGE (self-referential ON SET) limited to 10k input rows")
      var result: State = null
      (0L until n).foreach { i =>
        val rowState = State(tagged.where(col("__seq") === i).drop("__seq"), st0.vars)
        val r0 = mergeBatch(b, rowState, m)
        // per-iteration re-scans can carry different shred sidecars
        // (earlier rows' SETs may introduce keys): align on the stable
        // column set
        val r = State(b.dropShredCols(r0.df), r0.vars)
        result = if (result == null) r
          else State(result.df.unionByName(r.df), r.vars)
      }
      if (result == null) mergeBatch(b, st0, m) else result
    } else mergeBatch(b, st0, m)
  }

  /** Pair the created build's new vars with the match build's, kind by
    * kind: both builds bind the SAME pattern, and within each kind they
    * bind in pattern order, but the interleaving differs (create()
    * binds both endpoint NODES before the edge that needs their ids;
    * buildMatch binds node, edge, node) — a positional zip across kinds
    * would flag every fresh-endpoint relationship MERGE as misaligned.
    * Named vars must pair with themselves; anonymous (fresh `__`) names
    * may differ per build. None = genuinely misaligned.
    */
  private[cypher] def mergeVarPairs(
      created: Seq[(String, Kind)], matched: Seq[(String, Kind)])
      : Option[Seq[((String, Kind), (String, Kind))]] = {
    if (created.length != matched.length) return None
    val kinds = created.map(_._2).distinct
    if (kinds.sortBy(_.toString) != matched.map(_._2).distinct.sortBy(_.toString))
      return None
    val pairs = kinds.flatMap { k =>
      val cs = created.filter(_._2 == k)
      val ms = matched.filter(_._2 == k)
      if (cs.length != ms.length) return None
      cs.zip(ms)
    }
    val ok = pairs.forall { case ((cn, _), (mn, _)) =>
      cn == mn || (cn.startsWith("__") && mn.startsWith("__"))
    }
    if (ok) Some(pairs) else None
  }

  /** MERGE join-back precondition: the created build's new vars must
   *  align positionally with the match build's — same count, same kind
   *  sequence, and named vars equal (anonymous elements get fresh "__"
   *  names per build; only those may differ). Both builds emit vars in
   *  pattern order, so this holds for every reachable plan; it is the
   *  guard that licenses replacing the second full pattern match with
   *  the key-join-back (execCypherMerge.c:35). Package-private so the
   *  spec can pin the predicate and the failure behavior. */
  private[cypher] def mergeVarsAligned(
      created: Seq[(String, Kind)], matched: Seq[(String, Kind)]): Boolean =
    mergeVarPairs(created, matched).isDefined

  /** A reached misalignment must fail, never fall back: the old full
   *  re-match diverges from the reference on self-symmetric patterns
   *  (it finds all post-create bindings where the reference binds only
   *  the created instance). */
  private[cypher] def mergeMisalignmentError(
      created: Seq[String], matched: Seq[String]): Nothing =
    throw new IllegalStateException(
      "internal error: MERGE created/matched binding misalignment " +
        s"(created=${created.mkString(",")} " +
        s"matched=${matched.mkString(",")}); " +
        "please report — the join-back precondition was violated")

  private def mergeBatch(b: Builder, st0: State, m: MergeClause): State = {
    // (measured, not kept: repartitioning a 1-partition statement input
    // across cores before the merge cycle — no win at bench scale, the
    // per-row jsonb key render is not the bottleneck; r15)
    val tagged = st0.df.withColumn("__mrow", monotonically_increasing_id())
      .localCheckpoint(true)
    val base = State(tagged, st0.vars)

    def matchOnce(s: State): State =
      b.buildMatch(s, Match(Seq(m.path), optional = false, where = None))

    // 1. try to match the whole pattern. Deliberately NOT materialized:
    //    each consumer (missing-rows anti-join, create() via `missing`,
    //    the final union, ON SET routing) prunes the match subtree to
    //    the columns it needs — the isEmpty probe computes only __mrow.
    //    A localCheckpoint here forces the full wide match (every var's
    //    jsonb struct) and measured 25-60% SLOWER across the MERGE
    //    family at bench scale.
    val firstTry = matchOnce(base)
    val matchedRows = firstTry.df.select(col("__mrow")).distinct()
    val missing = tagged.join(matchedRows, Seq("__mrow"), "left_anti")

    // 2. create the full pattern for DISTINCT missing bindings
    //    (MERGE uniqueness: identical bindings create one instance)
    val createdIdsHolder = new scala.collection.mutable.ArrayBuffer[DataFrame]()
    val anyMissing = !missing.isEmpty
    // the created bindings keyed by pattern identity, for step 3's
    // join-back (None when the optimized re-match can't apply)
    var createdSide: Option[(DataFrame, Int)] = None
    var createdSideVarsForError: Seq[String] = Nil
    var missingKeyed: DataFrame = missing
    val matchNewVars = firstTry.vars.drop(base.vars.length)
    if (anyMissing) {
      // distinct by the pattern's evaluated identity: rendered prop maps
      // + ids of any pre-bound endpoint vars
      val comp = b.compiler(State(missing, st0.vars))
      val keyCols = scala.collection.mutable.ArrayBuffer[Column]()
      // prop-map identity is the memcomparable SORT KEY, not the
      // rendered string: MERGE matches by jsonb equality, where {x: 1}
      // and {x: 1.0} are ONE identity (the reference's row-at-a-time
      // MERGE has the second row match the first row's node) — a
      // rendered-string key would dedup them into two created elements
      (m.path.head +: m.path.tail.map(_._2)).foreach { nd =>
        nd.props.foreach(pe =>
          keyCols += J.sortKey(comp.toJ(comp.compile(pe))))
        nd.variable.foreach { v =>
          if (st0.kinds.contains(v)) keyCols += col(Compiler.q(v)).getField("id")
        }
      }
      m.path.tail.map(_._1).foreach { rl =>
        rl.props.foreach(pe =>
          keyCols += J.sortKey(comp.toJ(comp.compile(pe))))
      }
      missingKeyed = keyCols.toSeq.zipWithIndex.foldLeft(missing) {
        case (d, (c, i)) => d.withColumn(s"__mk_$i", c)
      }
      val dedup =
        if (keyCols.isEmpty) missingKeyed.limit(1)
        else missingKeyed.dropDuplicates(
          keyCols.indices.map(i => s"__mk_$i").toSeq)
      val created = create(b, State(dedup, st0.vars), Seq(m.path),
        validated = true)
      // collect created ids for ON CREATE routing
      val createdNewVars = created.vars.drop(st0.vars.length)
      createdSideVarsForError = createdNewVars.map(_._1)
      createdNewVars.foreach { case (v, k) =>
        if (k == KV || k == KE)
          createdIdsHolder += created.df.select(
            col(Compiler.q(v)).getField("id").as("id"))
      }
      // created bindings keyed by identity, aligned per-kind to the
      // match side's variable names (anonymous elements get fresh names
      // per build; within each kind both builds bind in pattern order,
      // but the node/edge interleaving differs — see mergeVarPairs)
      mergeVarPairs(createdNewVars, matchNewVars).foreach { pairs =>
        val sel = keyCols.indices.map(i => col(s"__mk_$i").as(s"__ck_$i")) ++
          pairs.map { case ((cn, _), (mn, _)) =>
            col(Compiler.q(cn)).as(mn) }
        // materialized: the created bindings are already on disk, and
        // checkpointing breaks the self-lineage with missingKeyed
        createdSide = Some((created.df.select(sel: _*).localCheckpoint(true),
          keyCols.length))
      }
    }
    val (createdIds, createdCnt) =
      if (createdIdsHolder.isEmpty)
        (b.spark.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("id"), 0L)
      else GraphCatalog.checkpointCounted(createdIdsHolder.reduce(_ unionAll _).distinct())

    // 3. re-match. A row that matched in step 1 keeps exactly its
    //    original matches: every element created in step 2 carries some
    //    missing row's full binding identity, and a matched row with
    //    that identity would have matched pre-create (contradiction) —
    //    so created elements can never extend a matched row's match
    //    set. A missing row's post-create matches are exactly the
    //    instance created for its own identity key. Both facts together
    //    replace the second full pattern match (and its label scans)
    //    with a key-join of the missing rows onto the created bindings.
    //    When nothing was missing the first match already bound every
    //    row — reuse it outright.
    val finalMatch =
      if (!anyMissing) firstTry
      else createdSide match {
        case Some((cs, nKeys)) =>
          val rematched =
            if (nKeys == 0) missingKeyed.crossJoin(broadcast(cs))
            else {
              val cond = (0 until nKeys).map(i =>
                col(s"__mk_$i") <=> col(s"__ck_$i")).reduce(_ && _)
              missingKeyed.join(cs, cond)
            }
          val dropCols = (0 until nKeys)
            .flatMap(i => Seq(s"__mk_$i", s"__ck_$i"))
          // the match side carries shredded sidecar columns from the
          // label scans that the created side has no counterpart for:
          // project BOTH sides to the shared frame (input columns +
          // pattern vars) — downstream prop access falls back to the
          // properties document, same as the row-sequential path
          val shared = tagged.columns.toSeq ++ matchNewVars.map(_._1)
          val sharedCols = shared.map(c => col(Compiler.q(c)))
          State(firstTry.df.select(sharedCols: _*)
            .unionByName(rematched.drop(dropCols: _*).select(sharedCols: _*)),
            firstTry.vars)
        // Alignment failed (shape drift between the two builds). Both
        // builds emit pattern-order vars, so this is unreachable; a
        // full re-match fallback would silently diverge from the
        // reference on self-symmetric patterns (it finds all
        // post-create bindings where the reference binds only the
        // created instance — execCypherMerge.c:35), so a reached
        // misalignment must FAIL, never proceed with different
        // semantics.
        case None => mergeMisalignmentError(
          createdSideVarsForError, matchNewVars.map(_._1))
      }
    var out = State(finalMatch.df.drop("__mrow"), finalMatch.vars)

    // 4. ON CREATE / ON MATCH SET branches routed by created-ness of the
    //    pattern's first element. The created-id set stays DISTRIBUTED:
    //    a bulk MERGE can create millions of elements, so collecting
    //    ids to the driver (and building a giant isin literal) would
    //    OOM — instead a __created tag is joined on (broadcast when the
    //    created set is small, shuffle join otherwise) and the SET
    //    branches route on the tag.
    val firstVar = finalMatch.vars.drop(base.vars.length).headOption
    if ((m.onCreate.nonEmpty || m.onMatch.nonEmpty) && firstVar.isDefined) {
      val (fv, _) = firstVar.get
      // createdCnt rode the createdIds checkpoint as an observed metric
      val small = createdIdsHolder.isEmpty || createdCnt < 1000000L
      val tagSrc0 = createdIds.select(col("id").as("__cre_id"),
        lit(true).as("__cre_tag"))
      val tagSrc = if (small) broadcast(tagSrc0) else tagSrc0
      val taggedOut = out.df
        .join(tagSrc, col(Compiler.q(fv)).getField("id") === col("__cre_id"), "left")
        .withColumn("__created", coalesce(col("__cre_tag"), lit(false)))
        .drop("__cre_id", "__cre_tag")
      out = State(taggedOut, out.vars)
      if (m.onCreate.nonEmpty) out = set(b, out, m.onCreate, col("__created"))
      if (m.onMatch.nonEmpty) out = set(b, out, m.onMatch, !col("__created"))
      out = State(out.df.drop("__created"), out.vars)
    }
    out
  }
}
