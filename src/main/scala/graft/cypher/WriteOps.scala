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
    */
  def create(b: Builder, st: State, paths: Seq[PathPattern]): State = {
    validateCreatePaths(st.vars, paths)
    // snapshot the input FIRST (the write makes the frame's lineage
    // side-effecting; localCheckpoint isolates it), then index over the
    // cached blocks: the partition-counts pass and every __cidx
    // consumer are cheap cached projections, and the input plan
    // executes exactly once. The row count rides the counts collect.
    val (indexed, n) = b.withRowIndexCounted(
      st.df.localCheckpoint(true), "__cidx")
    createIndexed(b, State(indexed, st.vars), n, paths, Nil)
  }

  /** [[create]] over input rows already snapshotted and indexed in
    * `__cidx` (`n` rows), for paths already validated. `onCreate` holds
    * a MERGE's ON CREATE SET when all its items target new elements:
    * they apply to the new elements' property maps before the append,
    * so a created element is written once (ExecMergeGraph applies ON
    * CREATE SET to the tuple it has just built, execCypherMerge.c:35).
    */
  private def createIndexed(b: Builder, st: State, n: Long,
      paths: Seq[PathPattern], onCreate: Seq[SetItem]): State = {
    var df = st.df
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
      .empty[(String, String)]
    val deferredAppends = scala.collection.mutable.ArrayBuffer
      .empty[DataFrame => Unit]
    // one new element per input row: resolve its label of `kind`,
    // reserve ids, bind the struct (id, the `ends` fields, properties)
    // and register its statement-level check and deferred append
    def element(name: String, label: String, kind: Kind, props: Option[Expr],
        ends: Seq[(String, Column)]): Unit = {
      val lm = b.catalog.labelSet(b.graph, Seq(label), if (kind == KV) 'v' else 'e',
        only = true).head
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
      pendingChecks += (label -> name)
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
    // ON CREATE SET composes over the complete new bindings (a value
    // may read any pattern variable, as it reads the created row after
    // the append in the reference)
    val assigned = setProps(b.compiler(State(df, vars)), onCreate)
    assigned.foreach { case (v, np) =>
      df = df.withColumn(v, col(Compiler.q(v)).withField("properties", np))
    }
    // force every element column (ids + property maps incl. the
    // object-shape raise_error) BEFORE the first append; then ALL
    // constraint checks over the maps the elements are written with,
    // then all appends
    val finalDf = df.localCheckpoint(true)
    checkConstraints(b, pendingChecks.toSeq.map { case (l, name) =>
      (l, finalDf.select(col(Compiler.q(name)).getField("id").as("id"),
        propsOf(name).as("properties")))
    })
    deferredAppends.foreach(_(finalDf))
    // like SET: each assigned variable counts its elements once
    b.updatedProperties += n * assigned.size
    State(finalDf.drop("__cidx"), vars)
  }

  /** Write-time constraint validation (reference:
    * CreateConstraintCommand graphcmds.c:550; CHECK/UNIQUE tests
    * cypher_ddl.sql:240-362). Bare identifiers in constraint bodies
    * refer to properties of the written element. `written` gives each
    * written label's (id, properties) rows: new elements (CREATE,
    * MERGE) or the new maps of updated ones (SET); a graph with no
    * constraint never builds them.
    *
    * Statement-level: each constraint validates the UNION of
    * every pending element whose label it governs, so cross-element
    * and cross-subtree duplicates within one statement are caught
    * BEFORE anything is written (the reference sees them because each
    * row's insert consults the index the previous row just updated).
    * UNIQUE compares against the stored subtree minus the written ids,
    * so an update that keeps its key does not collide with its own
    * old row.
    */
  private def checkConstraints(b: Builder,
      written: => Seq[(String, DataFrame)]): Unit = {
    val (all, ancestors) = b.catalog.constraintsAndAncestors(b.graph)
    if (all.isEmpty) return
    val elems = written
    val applicable = all.flatMap { c =>
      val hit = elems.filter { case (l, _) => ancestors(l).contains(c.label) }
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
            .join(newRows.select("id"), Seq("id"), "left_anti")
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

    val vSnap = if (vertexIds == null) null else snapshotIds(vertexIds.distinct())
    var eIds = if (edgeIds == null) null else edgeIds.distinct()

    if (vSnap != null) {
      val vIds = vSnap.ids
      // incident edges: DETACH deletes them; plain DELETE errors if any
      // remain (execCypherDelete.c vertex-has-edges check)
      // two equi semi-joins (hash, broadcastable), NOT one OR-condition
      // join — an OR disjunction can't hash-join and would nested-loop
      // the whole edge set against the victim list
      val allEdges = b.catalog.scan(b.graph, Nil, 'e', only = false)
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
    val eSnap = if (eIds == null) null else snapshotIds(eIds.distinct())

    // both victim-id sets are snapshotted before any file changes
    val removed = patchLabels(b,
      Seq(eSnap -> 'e', vSnap -> 'v').filter(_._1 != null)) {
      (cur, ids) => cur.join(ids, Seq("id"), "left_anti")
    }
    b.deletedEdges += removed.getOrElse('e', 0L)
    b.deletedVertices += removed.getOrElse('v', 0L)
    State(frame, st.vars)
  }

  /** An "id"-column frame snapshotted for [[patchLabels]]: its row
    * count and the labids it holds ride the checkpoint as observed
    * metrics, so finding the labels to patch costs no job of its own.
    */
  private final case class IdSnapshot(ids: DataFrame, n: Long, labids: Seq[Int])

  private def snapshotIds(ids: DataFrame): IdSnapshot = {
    val seen = org.apache.spark.sql.Observation()
    val (cp, n) = GraphCatalog.checkpointCounted(
      ids.observe(seen, collect_set(GraphId.labidOf(col("id"))).as("labids")))
    IdSnapshot(cp, n, seen.get("labids").asInstanceOf[scala.collection.Seq[Int]].toSeq)
  }

  /** The labels of `kind` whose labids `snap` holds, as (labid, name)
    * in labid order. Resolving within the kind keeps a vertex write off
    * an edge table even if labids ever stopped being unique across kinds.
    */
  private def labelsOf(b: Builder, snap: IdSnapshot, kind: Char): Seq[(Int, String)] = {
    val byLabid = b.catalog.labels(b.graph).filter(_.kind == kind)
      .map(l => l.labid -> l.name).toMap
    snap.labids.sorted.flatMap(l => byLabid.get(l).map(l -> _))
  }

  /** Rewrite the label tables that hold the ids of each `(ids, kind)`
    * snapshot: `patch(rows, ids)` runs over the touched files of each
    * label of the set's kind its labids name ([[labelsOf]];
    * GraphCatalog.patchFiles: files whose id range holds no victim keep
    * their bytes, so a point write against a huge label does not
    * rewrite the label).
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
  private def patchLabels(b: Builder, sets: Seq[(IdSnapshot, Char)])
      (patch: (DataFrame, DataFrame) => DataFrame): Map[Char, Long] = {
    val tasks = sets.flatMap { case (snap, kind) =>
      labelsOf(b, snap, kind).map { case (_, n) => (kind, n, snap.ids) }
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

  private def propsOf(v: String): Column = col(Compiler.q(v)).getField("properties")

  /** The property map each target variable ends with after `items`,
    * in item order (ExecSetGraph execCypherSet.c:141 — SET / REMOVE /
    * +=): an item sees `v`'s map updated by the earlier items on `v`,
    * while every value reads the frame `comp` compiles against. [[set]]
    * applies them to bound elements and [[createIndexed]] to the new
    * elements' pattern maps (MERGE's ON CREATE SET).
    */
  private def setProps(comp: Compiler,
      items: Seq[SetItem]): scala.collection.mutable.LinkedHashMap[String, Column] = {
    val byVar = scala.collection.mutable.LinkedHashMap[String, Column]()
    items.foreach { item =>
      val (v, update) = setItem(item)
      byVar(v) = update(comp, byVar.getOrElse(v, propsOf(v)))
    }
    byVar
  }

  /** A SET item as the variable it assigns and the update of that
    * variable's current property map (compiled by the given compiler).
    */
  private def setItem(item: SetItem): (String, (Compiler, Column) => Column) = item match {
    case SetProp(Prop(Vbl(v), k), value) =>
      v -> ((comp, cur) => J.setKey(cur, lit(k), comp.toJ(comp.compile(value))))
    case SetProp(Index(Vbl(v), idxE), value) =>
      v -> { (comp, cur) =>
        val newVal = comp.toJ(comp.compile(value))
        J.setKey(cur, J.asText(comp.toJ(comp.compile(idxE))), newVal)
      }
    case RemoveProp(Prop(Vbl(v), k)) =>
      v -> ((_, cur) => J.setKey(cur, lit(k), lit(null).cast("string")))
    case SetMap(v, value, add) =>
      v -> { (comp, cur) =>
        value match {
          case graft.cypher.Ast.Lit(graft.jsonb.JNull) =>
            // cypher_dml.out:2334-2338, 2381-2385
            throw new IllegalArgumentException(
              "cannot set property map to NULL (use {} instead of NULL to remove all properties)")
          case _ => ()
        }
        val m = JsonbNormalize.normalize(comp.toJ(comp.compile(value)))
        if (add) J.concat(cur, m) else m
      }
    case other => throw new IllegalArgumentException(s"unsupported SET item $other")
  }

  /** Last-write-wins order of a statement's rows for multiple updates
    * of one element (enable_multiple_update analog): the bound element
    * ids in binding order — the deterministic analog of PG's ascending
    * nested-loop iteration order.
    */
  private def setOrder(vars: Seq[(String, Kind)]): Column = {
    val ordCols = vars.collect {
      case (w, KV | KE) => format_string("%020d", col(Compiler.q(w)).getField("id"))
    }
    if (ordCols.isEmpty) lit("0") else concat(ordCols: _*)
  }

  /** Whether the row with the LAST [[setOrder]] wins when several rows
    * update one element. With enable_multiple_update off the reference
    * WARNS and keeps the FIRST update instead (execCypherSet.c:316-324
    * HASH_FIND skip).
    */
  private def multipleUpdate(b: Builder): Boolean =
    b.spark.conf.get("spark.graft.enableMultipleUpdate", "true") != "false"

  /** The off-mode report of elements updated by several rows (bounded
    * sample — the count is the aggregate signal): `updates` has one
    * "id" row per element with its row count in `__nupd`.
    */
  private def warnRepeated(updates: DataFrame): Unit = {
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

  /** SET / REMOVE / += (ExecSetGraph execCypherSet.c:141).
    * `cond` restricts affected rows (MERGE's matched or created rows).
    * The whole statement is checked before any file changes: every
    * variable's update is snapshotted first, then the constraints see
    * the final map of each written element, then the labels are patched
    * variable by variable.
    */
  def set(b: Builder, st: State, items: Seq[SetItem], cond: Column): State = {
    val frame = st.df.withColumn("__setord", setOrder(st.vars))
      .localCheckpoint(true)
    val comp = b.compiler(State(frame, st.vars))
    val multiOk = multipleUpdate(b)
    var newDf = frame
    val upds = setProps(comp, items).toSeq.map { case (v, newProps) =>
      val kind = st.kinds.getOrElse(v,
        throw new IllegalArgumentException(s"variable `$v` not defined"))
      require(kind == KV || kind == KE, s"SET target `$v` must be a graph element")
      // updates table: id -> new properties; the row [[setOrder]] picks
      // (see [[multipleUpdate]]) wins when several rows update one element
      val upd = snapshotIds(newDf.where(cond)
        .select(col(Compiler.q(v)).getField("id").as("id"),
          newProps.as("__np"), col("__setord"))
        .groupBy("id").agg(
          (if (multiOk) max_by(col("__np"), col("__setord"))
           else min_by(col("__np"), col("__setord"))).as("__np"),
          count(lit(1)).as("__nupd")))
      if (!multiOk) warnRepeated(upd.ids)
      b.updatedProperties += upd.n
      // refresh EVERY in-flight element var by id (heap semantics:
      // aliases of the same element observe the update; PG rereads the
      // heap with a new CommandId between clauses)
      st.vars.foreach { case (w, wk) =>
        if (wk == KV || wk == KE) {
          val upd2 = upd.ids.select(col("id").as("__uid"), col("__np").as("__unp"))
          val wId = col(Compiler.q(w)).getField("id")
          val props2 = coalesce(col("__unp"), col(Compiler.q(w)).getField("properties"))
          newDf = newDf.join(upd2, wId === col("__uid"), "left")
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
      (upd, if (kind == KV) 'v' else 'e')
    }
    // the new maps must pass their labels' constraints before any file
    // changes. Of two aliases of one element the later variable's row
    // wins: it was computed over the earlier variable's refresh.
    checkConstraints(b, {
      val rows = upds.zipWithIndex.flatMap { case ((upd, k), i) =>
        labelsOf(b, upd, k).map { case (labid, l) =>
          (l, upd.ids.where(GraphId.labidOf(col("id")) === labid)
            .select(col("id"), col("__np").as("properties"), lit(i).as("__vi")))
        }
      }
      rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (l, dfs) =>
        (l, dfs.map(_._2).reduce(_ unionAll _).groupBy("id")
          .agg(max_by(col("properties"), col("__vi")).as("properties")))
      }
    })
    upds.foreach { case (upd, k) =>
      patchLabels(b, Seq(upd -> k)) {
        (cur, u) => cur.join(u.select(col("id"), col("__np")), Seq("id"), "left")
          .withColumn("properties", coalesce(col("__np"), col("properties")))
          .drop("__np")
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
    *
    * Either way a batch writes each created element once, with its ON
    * CREATE SET already applied, and patches only the rows it matched
    * with ON MATCH SET (see mergeBatch).
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

    // 1. try to match the whole pattern. Deliberately NOT materialized:
    //    each consumer (missing-rows anti-join, the final union) prunes
    //    the match subtree to the columns it needs. A localCheckpoint
    //    here forces the full wide match (every var's jsonb struct) and
    //    measured 25-60% SLOWER across the MERGE family at bench scale.
    val firstTry = b.buildMatch(base, Match(Seq(m.path), optional = false, where = None))
    val matchNewVars = firstTry.vars.drop(base.vars.length)
    val matchedRows = firstTry.df.select(col("__mrow")).distinct()
    val missing = tagged.join(matchedRows, Seq("__mrow"), "left_anti")

    // 2. create the full pattern once per DISTINCT missing binding
    //    (MERGE uniqueness: identical bindings create one instance),
    //    keyed by the pattern's evaluated identity: prop maps + ids of
    //    any pre-bound endpoint vars. Prop-map identity is the
    //    memcomparable SORT KEY, not the rendered string: MERGE matches
    //    by jsonb equality, where {x: 1} and {x: 1.0} are ONE identity
    //    (the reference's row-at-a-time MERGE has the second row match
    //    the first row's node). A pattern with no identity parts is one
    //    identity.
    val comp = b.compiler(State(missing, st0.vars))
    def propKey(pe: Expr): Column = J.sortKey(comp.toJ(comp.compile(pe)))
    val keyCols = (m.path.head +: m.path.tail.map(_._2)).flatMap { nd =>
      nd.props.map(propKey) ++
        nd.variable.filter(st0.kinds.contains).map(v => col(Compiler.q(v)).getField("id"))
    } ++ m.path.tail.flatMap(_._1.props.map(propKey))
    val keyed = (if (keyCols.isEmpty) Seq(lit(0)) else keyCols)
      .zipWithIndex.map { case (c, i) => s"__mk_$i" -> c }
    val keys = keyed.map(_._1)
    val missingKeyed = missing.withColumns(keyed.toMap)
    // ON CREATE SET folds into the create only when every item targets
    // an element the MERGE creates. An item on a pre-bound element (an
    // edge MERGE's endpoint, say) keeps the whole list one SET over the
    // created rows (step 4): items apply in written order, each reading
    // what the earlier ones wrote, which a partial fold would reorder.
    val newElems = m.path.varNames.toSet -- m.path.variable -- st0.kinds.keySet
    val fold = m.onCreate.forall(i => newElems(setItem(i)._1))
    val foldItems = if (fold) m.onCreate else Nil
    // Each key's instance is built from the row that SET's order would
    // let win (see setOrder/multipleUpdate), so an ON CREATE value read
    // from the input is the one the SET over all the key's rows kept.
    val multiOk = multipleUpdate(b)
    val ord = setOrder(st0.vars)
    val dedup = missingKeyed.groupBy(keys.map(col): _*)
      .agg((if (multiOk) max_by(struct(col("*")), ord)
        else min_by(struct(col("*")), ord)).as("__row"),
        count(lit(1)).as("__nupd"))
      .select("__row.*", "__nupd")
    // the snapshot create indexes over counts the distinct missing
    // bindings: no rows means nothing to create (no separate probe)
    val (indexed, nCreate) = b.withRowIndexCounted(dedup.localCheckpoint(true), "__cidx")

    // 3. re-match. A row that matched in step 1 keeps exactly its
    //    original matches: every element created in step 2 carries some
    //    missing row's full binding identity, and a matched row with
    //    that identity would have matched pre-create (contradiction) —
    //    so created elements can never extend a matched row's match
    //    set. A missing row's post-create matches are exactly the
    //    instance created for its own identity key. Both facts together
    //    replace the second full pattern match (and its label scans)
    //    with a key-join of the missing rows onto the created bindings:
    //    the step-1 rows are the matched rows and the key-joined rows
    //    the created ones.
    val matched = firstTry.df.withColumn("__created", lit(false))
    val rows =
      if (nCreate == 0L) matched
      else {
        val created = createIndexed(b, State(indexed, st0.vars), nCreate,
          Seq(m.path), foldItems)
        val createdNewVars = created.vars.drop(st0.vars.length)
        if (!multiOk) foldItems.map(setItem(_)._1).distinct.foreach { v =>
          warnRepeated(created.df.select(
            col(Compiler.q(v)).getField("id").as("id"), col("__nupd")))
        }
        // created bindings keyed by identity, aligned per-kind to the
        // match side's variable names (anonymous elements get fresh
        // names per build — see mergeVarPairs; a misalignment is
        // unreachable and fails, see mergeMisalignmentError)
        val pairs = mergeVarPairs(createdNewVars, matchNewVars).getOrElse(
          mergeMisalignmentError(createdNewVars.map(_._1), matchNewVars.map(_._1)))
        // created.df is create's forced snapshot: the join reads it back
        val cs = created.df.select(keys.map(k => col(k).as(s"__c$k")) ++
          pairs.map { case ((cn, _), (mn, _)) => col(Compiler.q(cn)).as(mn) }: _*)
        val rematched = missingKeyed
          .join(cs, keys.map(k => col(k) <=> col(s"__c$k")).reduce(_ && _))
        // the match side carries shredded sidecar columns from the
        // label scans that the created side has no counterpart for:
        // project BOTH sides to the shared frame (input columns +
        // pattern vars) — downstream prop access falls back to the
        // properties document, same as the row-sequential path
        val shared = (tagged.columns.toSeq ++ matchNewVars.map(_._1) :+ "__created")
          .map(c => col(Compiler.q(c)))
        matched.select(shared: _*).unionByName(
          rematched.withColumn("__created", lit(true)).select(shared: _*))
      }
    var out = State(rows.drop("__mrow"), firstTry.vars)

    // 4. an ON CREATE SET that did not fold patches the created rows,
    //    then ON MATCH SET the matched ones; each refreshes every row's
    //    elements, so a pre-bound element shared by a created and a
    //    matched row shows both arms' updates
    if (!fold) out = set(b, out, m.onCreate, col("__created"))
    if (m.onMatch.nonEmpty) out = set(b, out, m.onMatch, !col("__created"))
    State(out.df.drop("__created"), out.vars)
  }
}
