package graft.graph

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Label metadata — one vertex/edge class. Labels form an inheritance
  * DAG (multiple parents), mirroring ag_label + PG table inheritance
  * (reference: src/include/catalog/ag_label.h:29-47,
  * src/backend/commands/graphcmds.c:352-414).
  *
  * `shred` records property-shredding sidecar columns present in the
  * label's parquet: key -> "n" (uniformly numeric: jsonb text + exact
  * decimal columns), "s" (uniformly string: jsonb text + raw string
  * columns), or "j" (jsonb text column only). `shredOff` disables the
  * whole mechanism for labels with too many distinct keys.
  */
/** CREATE PROPERTY INDEX metadata (gram.y:16972-17029). There is no
  * runtime btree here — an index is a LAYOUT declaration: label files
  * re-cluster on the first simple key's shred column so parquet
  * row-group/file min-max stats play the pruning role the reference's
  * btree played (SURVEY §2.12). UNIQUE indexes also register a unique
  * constraint (the enforcement half of the reference's unique index).
  */
final case class PropIndexMeta(
    name: String,
    keys: Seq[String],
    unique: Boolean)

final case class LabelMeta(
    name: String,
    labid: Int,
    kind: Char, // 'v' | 'e'
    parents: Seq[String],
    shred: Map[String, String] = Map.empty,
    shredOff: Boolean = false,
    indexes: Seq[PropIndexMeta] = Nil,
    // recorded DDL modifiers (gram.y:16725-16800). There is no WAL and
    // no runtime btree here, so both are acknowledged metadata no-ops:
    // persistence 'p'/'u' mirrors pg_class.relpersistence
    // (CREATE UNLOGGED VLABEL / ALTER ... SET [UN]LOGGED), and
    // indexDisabled mirrors the INVALID pkey of DISABLE INDEX
    persistence: Char = 'p',
    indexDisabled: Boolean = false)

/** A graph = a namespace of label tables backed by Parquet under
  * `<root>/<graph>/<label>/`, with JSON metadata at
  * `<root>/<graph>/_graph.json` (mirrors ag_graph: a graph is a schema;
  * reference src/include/catalog/ag_graph.h:28-43).
  *
  * Scale notes: label tables are ordinary parquet directories — at
  * cluster scale they'd live on object storage and all scans go through
  * Spark's parquet source (column pruning, predicate pushdown, stats).
  * The catalog itself is tiny driver-side state.
  */
object GraphCatalog {
  /** JVM-global lock striping, keyed by normalized path — two catalog
    * instances on the same warehouse (one per Spark driver in tests,
    * or one per thread) must share a monitor, because overlapping
    * java.nio FileLocks acquired from one JVM throw instead of
    * blocking.
    */
  private[graph] val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graph] val heldMeta: ThreadLocal[mutable.Set[String]] =
    ThreadLocal.withInitial(() => mutable.Set.empty[String])
  private[graph] val labelLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()

  /** localCheckpoint at `level` with the count of the rows matching
    * `where` (default: all) riding the SAME materialization as an
    * observed metric: a separate count() or emptiness probe would pay
    * one more driver round-trip and, at scale, one more pass over the
    * cached blocks. Every iterative loop's stop test reads this count
    * from the checkpoint its round takes anyway. The default level is
    * the one plain localCheckpoint(true) uses.
    */
  def checkpointCounted(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
      where: Column = org.apache.spark.sql.functions.lit(true)): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{count, lit, when}
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, count(when(where, lit(1))).as("__n"))
      .localCheckpoint(true, level)
    (cp, obs.get("__n").asInstanceOf[Long])
  }
}

final class GraphCatalog(val spark: SparkSession, val root: String) {

  // ---------------------------------------------------- cross-driver locks

  /** Run `body` holding the graph's meta mutation lock. Every meta
    * read-modify-write cycle goes through here: the JVM-global striped
    * monitor serializes catalog instances within one driver, and an OS
    * advisory file lock on `<graph>/_meta.lock` serializes DRIVERS —
    * two Spark processes on one warehouse previously interleaved their
    * read-modify-rename cycles and could lose updates. flock semantics
    * mean the lock dies with its process: no stale-lock recovery.
    * Re-entrant via a thread-local held-set (meta mutations nest, e.g.
    * index creation committing then re-validating).
    */
  private def withMetaLock[T](g: String)(body: => T): T = {
    // the friendly diagnostic must win over a raw NoSuchFileException
    // from opening the lock file inside a graph dir that never existed
    if (!Files.exists(graphDir(g)))
      throw new IllegalStateException(s"graph \"$g\" does not exist")
    val key = graphDir(g).toAbsolutePath.normalize.toString
    val hs = GraphCatalog.heldMeta.get()
    if (hs.contains(key)) return body
    val mon = GraphCatalog.jvmLocks.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val lockPath = graphDir(g).resolve("_meta.lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = ch.lock()
        hs += key
        try body finally { hs -= key; fl.release() }
      } finally ch.close()
    }
  }

  /** Per-label exclusive lock (in-driver): every mutation of one
    * label's FILES — append, the reindex and patchFiles swap,
    * drop, rename — serializes on it, so a re-cluster can never delete
    * files an in-flight append just wrote. Same-label appends
    * serialize too: Spark's file committer stages every job of a
    * directory under the same _temporary path, and the shred-meta
    * merge is a per-label read-modify-write — neither is safe
    * concurrently (DIFFERENT labels still ingest fully in parallel,
    * the bulk-load shape). Cross-DRIVER same-label write overlap
    * remains the operator's responsibility to schedule (documented
    * deviation: the reference serializes via heavyweight table locks).
    * The lock keys on the label NAME — renameLabel holds BOTH the
    * source and target names' locks (canonical order).
    *
    * READERS take no lock (documented deviation, r12 review finding 4):
    * a query overlapping [[swapLabel]]'s rm+move window can see
    * an empty table or fail on deleted part files — the lakehouse
    * answer is snapshot isolation (Delta/Iceberg manifests), which this
    * parquet-directory catalog deliberately does not reimplement; the
    * reference holds reader locks through its buffer manager. Schedule
    * reindex/SET-heavy maintenance away from concurrent readers, as
    * with any non-transactional table format.
    */
  private def labelLock(g: String, label: String) =
    GraphCatalog.labelLocks.computeIfAbsent(
      graphDir(g).toAbsolutePath.normalize.resolve(label).toString,
      _ => new java.util.concurrent.locks.ReentrantReadWriteLock())
  private def withLabelWrite[T](g: String, label: String)(body: => T): T = {
    val l = labelLock(g, label).writeLock(); l.lock()
    try body finally l.unlock()
  }

  // ------------------------------------------------------------- schemas

  val vertexSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("properties", StringType, nullable = true)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("end", LongType, nullable = false),
    StructField("properties", StringType, nullable = true)))

  private def baseSchema(kind: Char): StructType =
    if (kind == 'v') vertexSchema else edgeSchema

  // ------------------------------------------------------ graph DDL

  private def graphDir(g: String): Path = Paths.get(root, g)
  private def metaPath(g: String): Path = graphDir(g).resolve("_graph.json")
  private def labelDir(g: String, l: String): Path = graphDir(g).resolve(l)

  /** CREATE GRAPH [AUTHORIZATION r] (graphcmds.c CreateGraphCommand;
    * gram.y:16677-16724). There is no user model here, so the owner is
    * recorded as graph metadata only.
    */
  def createGraph(name: String, ifNotExists: Boolean = false,
      owner: Option[String] = None): Unit = {
    if (Files.exists(graphDir(name))) {
      if (ifNotExists) return
      throw new IllegalStateException(s"graph \"$name\" already exists")
    }
    Files.createDirectories(graphDir(name))
    writeMeta(name, GraphMeta(mutable.LinkedHashMap.empty, 1, owner = owner))
  }

  def graphOwner(name: String): Option[String] = readMeta(name).owner

  /** ALTER GRAPH ... OWNER TO r (cypher_ddl.out:51-58) — owner is
    * recorded metadata, like AUTHORIZATION at create.
    */
  def setGraphOwner(name: String, owner: String): Unit = withMetaLock(name) {
    writeMeta(name, readMeta(name).copy(owner = Some(owner)))
  }

  /** DROP GRAPH (RemoveGraphById). */
  def dropGraph(name: String, ifExists: Boolean = false): Unit = {
    if (!Files.exists(graphDir(name))) {
      if (ifExists) return
      throw new IllegalStateException(s"graph \"$name\" does not exist")
    }
    rmTree(graphDir(name))
  }

  def graphExists(name: String): Boolean = Files.exists(metaPath(name))

  /** ALTER GRAPH ... RENAME (graphcmds.c RenameGraph:146): a directory
    * move — label data and ids are untouched.
    */
  def renameGraph(from: String, to: String): Unit = {
    require(Files.exists(graphDir(from)), s"graph \"$from\" does not exist")
    require(!Files.exists(graphDir(to)), s"graph \"$to\" already exists")
    Files.move(graphDir(from), graphDir(to))
  }

  /** ALTER VLABEL/ELABEL ... RENAME (graphcmds.c RenameLabel:416):
    * catalog rename; the labid — and therefore every stored graphid —
    * is stable, so data and edges referencing the label never rewrite.
    * Children's parent lists follow the rename.
    */
  def renameLabel(graph: String, from: String, to: String): Unit = {
    // lock BOTH names (canonical order — no deadlock with a reverse
    // rename): an append racing to the TARGET name could otherwise
    // create the target dir between the meta commit and the move,
    // stranding the rows under the old dir
    val Seq(l1, l2) = Seq(from, to).sorted
    withLabelWrite(graph, l1) { withLabelWrite(graph, l2) { withMetaLock(graph) {
    val m = readMeta(graph)
    labelMeta(m, from)
    require(!m.labels.contains(to), s"label \"$to\" already exists")
    // rebuild preserving declaration order; rewrite parent references
    val renamed = m.labels.map { case (n, meta) =>
      val n2 = if (n == from) to else n
      val meta2 = meta.copy(
        name = if (meta.name == from) to else meta.name,
        parents = meta.parents.map(p => if (p == from) to else p))
      n2 -> meta2
    }
    m.labels.clear()
    renamed.foreach { case (n, meta) => m.labels(n) = meta }
    // the id sequence is keyed by label NAME: move it with the rename
    // or the next CREATE under the new name restarts at locid 1 and
    // reissues existing graphids (r12 review finding; DdlSpec pins it)
    m.sequences.remove(from).foreach(seq => m.sequences(to) = seq)
    // constraints are keyed by label NAME too — they follow the rename
    // in the same commit, or they silently stop being enforced
    // (checkConstraints matches via ancestors(label), which no longer
    // contains the old name) and a future label reusing the old name
    // would inherit them
    writeMeta(graph, m.copy(constraints = m.constraints.map(c =>
      if (c.label == from) c.copy(label = to) else c)))
    Files.move(labelDir(graph, from), labelDir(graph, to))
  } } }
  }

  // ------------------------------------------------------ label DDL

  /** CREATE [UNLOGGED] VLABEL / ELABEL [DISABLE INDEX] [INHERITS (...)]
    * (graphcmds.c DefineLabel; gram.y:16725-16800 for the modifiers).
    */
  def createLabel(graph: String, name: String, kind: Char,
      parents: Seq[String] = Nil, ifNotExists: Boolean = false,
      persistence: Char = 'p', disableIndex: Boolean = false): Unit = withMetaLock(graph) {
    val m = readMeta(graph)
    if (m.labels.contains(name)) {
      if (ifNotExists) return
      throw new IllegalStateException(s"label \"$name\" already exists")
    }
    // implicit base labels ag_vertex/ag_edge are represented by Nil parents
    parents.foreach { p =>
      val pm = m.labels.getOrElse(p,
        throw new IllegalStateException(
          s"""parent graph label "$p" does not exist"""))
      if (pm.kind != kind) throw new IllegalStateException(
        s"""parent graph label "$p" is not ${
          if (kind == 'v') "vertex" else "edge"} label.""")
    }
    m.labels(name) = LabelMeta(name, m.nextLabid, kind, parents,
      persistence = persistence, indexDisabled = disableIndex)
    writeMeta(graph, m.copy(nextLabid = m.nextLabid + 1))
    Files.createDirectories(labelDir(graph, name))
  }

  /** ALTER VLABEL/ELABEL ... SET [UN]LOGGED / DISABLE INDEX
    * (cypher_ddl.out:439,505): metadata-only here, like the CREATE
    * modifiers.
    */
  def setLabelPersistence(graph: String, name: String, p: Char): Unit = withMetaLock(graph) {
    val m = readMeta(graph)
    val lm = labelMeta(m, name)
    m.labels(name) = lm.copy(persistence = p)
    writeMeta(graph, m)
  }

  def setLabelIndexDisabled(graph: String, name: String): Unit = withMetaLock(graph) {
    val m = readMeta(graph)
    val lm = labelMeta(m, name)
    m.labels(name) = lm.copy(indexDisabled = true)
    writeMeta(graph, m)
  }

  /** CREATE [UNIQUE] PROPERTY INDEX (CreatePropertyIndexStmt,
    * gram.y:16972-17029; graphcmds.c). The layout analog of the btree
    * build: record the index, then RE-CLUSTER existing label files on
    * the first simple key's shred column (range-partitioned across the
    * current file count + sorted in-file), so file/row-group min-max
    * stats prune key predicates the way the reference's index scan
    * did. Expression keys are recorded but drive no layout.
    */
  def createPropertyIndex(graph: String, label: String,
      idxName: Option[String], keys: Seq[String], unique: Boolean,
      ifNotExists: Boolean = false): Unit = {
    // NOT whole-body locked: validation and the reindex run multi-job
    // Spark work — only the meta read-modify-write and the post-commit
    // re-validation take the meta lock, so concurrent appends to OTHER
    // labels never stall behind an index build (same-label writes
    // serialize against the reindex through the per-label write lock)
    require(keys.nonEmpty, "property index needs at least one key")
    val m0 = readMeta(graph)
    val lm = labelMeta(m0, label)
    val autoKey = keys.head.takeWhile(c => c.isLetterOrDigit || c == '_')
    val nm = idxName.getOrElse(
      s"${label}_${if (autoKey.nonEmpty) autoKey else "expr"}_idx")
    // index names are GRAPH-unique (PG: index names are schema-scoped
    // relations), not per-label: otherwise two labels could register
    // the same name and dropPropertyIndex — which resolves by name
    // graph-wide — would drop an arbitrary one of them
    if (m0.labels.values.exists(_.indexes.exists(_.name == nm))) {
      if (ifNotExists) return
      throw new IllegalStateException(s"""index "$nm" already exists""")
    }
    // the index and its enforcement half commit together BEFORE the
    // validation scan, so writers that start during the scan are
    // checked; existing duplicates (or a failed scan) remove both
    // together, and a constraint-name collision records neither
    val validatable =
      keys.length == 1 && ShredKeyRe.findFirstIn(keys.head).isDefined
    def dupScanFails(): Boolean = {
      import org.apache.spark.sql.functions._
      // scan the inheritance SUBTREE — the installed constraint is
      // enforced across it, so validation must see the same rows
      val k = graft.expr.J.sortKey(
        graft.expr.J.getKey(col("properties"), keys.head))
      !scan(graph, Seq(label), lm.kind, only = false)
        .select(k.as("__k")).where(col("__k").isNotNull)
        .groupBy("__k").count().where(col("count") > 1)
        .isEmpty
    }
    def dupError(): Nothing = throw new IllegalStateException(
      s"""could not create unique index "$nm": """ +
        s"""label "$label" contains duplicate values of "${keys.head}"""")
    if (unique) {
      // existing rows must already be unique (the reference's CREATE
      // UNIQUE INDEX fails with "could not create unique index" on
      // duplicate keys) — validated ONCE, under the label lock below,
      // for the single-simple-key form (the common shape).
      // Multi-key/expression indexes are enforced from the next write
      // on — say so out loud, like a NOTICE.
      if (!validatable) System.err.println(
        s"""NOTICE:  unique property index "$nm" on "$label" has a """ +
          "multi-key or expression key; existing rows are not validated " +
          "— uniqueness is enforced from the next write on")
    }
    // the enforcement half: a unique property index IS a unique
    // constraint over the key tuple (propertyindex.sql piv4/piv5),
    // committed in the same meta write as the index
    val ucBody = if (keys.length == 1) keys.head
      else keys.mkString("[", ", ", "]")
    // The build runs under the LABEL WRITE lock: it drains in-flight
    // same-label appends (they hold the same exclusive lock while
    // their files land), so the validation scan sees every committed
    // row, the reindex swap (re-entrant on the same lock) can't race
    // them, and two racing identical creates serialize here — an IF
    // NOT EXISTS loser re-checks the committed index name and no-ops.
    // The meta lock is held only for the actual meta commits — a
    // multi-minute duplicate scan must not stall reserveIds/DDL on
    // other labels or other drivers. Residual window (documented): a
    // writer STATEMENT that read the constraint list before the
    // constraint committed and appends after this lock releases is
    // enforced from its next statement on — the reference closes that
    // with a ShareLock held for the whole build, which would serialize
    // all writes graph-wide.
    withLabelWrite(graph, label) {
      // fresh re-check under the lock: the racing winner's commit is
      // visible here, so the loser takes the ifNotExists no-op path
      val already = readMeta(graph).labels.values
        .exists(_.indexes.exists(_.name == nm))
      if (already && !ifNotExists)
        throw new IllegalStateException(s"""index "$nm" already exists""")
      val committed = !already && withMetaLock(graph) {
        val fresh = readMeta(graph)
        val flm = fresh.labels(label)
        if (flm.indexes.exists(_.name == nm)) {
          if (ifNotExists) false
          else throw new IllegalStateException(
            s"""index "$nm" already exists""")
        } else {
          fresh.labels(label) = flm.copy(indexes = flm.indexes :+
            PropIndexMeta(nm, keys, unique))
          writeMeta(graph, if (!unique) fresh else withConstraint(fresh,
            ConstraintMeta(label, s"${nm}_uc", "unique", ucBody)))
          true
        }
      }
      if (committed && unique && validatable)
        try { if (dupScanFails()) dupError() }
        catch { case e: Throwable =>
          dropPropertyIndex(graph, nm, ifExists = true); throw e }
      if (committed) reindexLabel(graph, label)
    }
  }

  /** DROP PROPERTY INDEX name (OBJECT_PROPERTY_INDEX drop route). The
    * data keeps its current clustering; the next write re-clusters by
    * whatever indexes remain.
    */
  def dropPropertyIndex(graph: String, idxName: String,
      ifExists: Boolean = false): Unit = withMetaLock(graph) {
    val m = readMeta(graph)
    val hit = m.labels.values.find(_.indexes.exists(_.name == idxName))
    hit match {
      case None =>
        if (!ifExists) throw new IllegalStateException(
          s"""property index "$idxName" does not exist""")
      case Some(lm) =>
        val victim = lm.indexes.find(_.name == idxName).get
        m.labels(lm.name) = lm.copy(
          indexes = lm.indexes.filterNot(_.name == idxName))
        // the index and its enforcement half go in one commit
        writeMeta(graph, if (!victim.unique) m else m.copy(constraints =
          m.constraints.filterNot(_.name == s"${idxName}_uc")))
    }
  }

  /** Rewrite a label's files in index-clustered order: range-partition
    * by the typed key value (same ordering the shred-column sort and
    * the pushed-down predicates use), preserving the current file
    * count. No-op when the label is empty or the key is not uniformly
    * shredded (metadata-only index, like a btree on a missing column
    * would be empty).
    */
  private def reindexLabel(graph: String, label: String): Unit =
      withLabelWrite(graph, label) {
    // the whole read-then-swap runs under the label WRITE lock: the
    // file listing captured by the scan below must still be the
    // complete table when the swap runs — an append landing between
    // listing and swap would otherwise be deleted without being in the
    // snapshot
    import org.apache.spark.sql.functions._
    val lm = readMeta(graph).labels(label)
    val dir = labelDir(graph, label)
    if (!hasParquet(dir)) return
    val keyOpt = lm.indexes.iterator.flatMap(_.keys.headOption)
      .find(k => ShredKeyRe.findFirstIn(k).isDefined && lm.shred.contains(k))
    val base = baseSchema(lm.kind)
    val cur = spark.read.schema(base).parquet(dir.toString)
    // keep the label's parallel layout: one range per current
    // NON-EMPTY file (append batches leave empty shuffle parts behind)
    val files = cur.groupBy(input_file_name()).count().count().toInt.max(1)
    val df = keyOpt match {
      case Some(k) =>
        val v = graft.expr.J.getKey(col("properties"), k)
        val typed = lm.shred(k) match {
          case "n" => v.cast(shredDecimal)
          case "s" => graft.expr.J.asText(v)
          case _ => v
        }
        cur.repartitionByRange(files, typed)
      case None => cur
    }
    // the plan reads the files being replaced: snapshot it before the
    // swap deletes them
    val clean = df.localCheckpoint(true)
    // the new contents are the whole table: the shred layout is
    // recomputed from scratch, not merged into the old one
    val types = batchKeyTypes(clean)
    val lm2 =
      if (types.size > ShredMaxKeys) lm.copy(shred = Map.empty, shredOff = true)
      else lm.copy(shred = types, shredOff = false)
    swapLabel(graph, lm2, if (lm2.shredOff) clean else withShredCols(clean, types), Nil)
    withMetaLock(graph) {
      val fresh = readMeta(graph)
      // only the shred layout comes from this rewrite; every other
      // field — indexes, persistence, parents — must come from the
      // FRESH meta, or a concurrent DDL committed mid-rewrite would be
      // resurrected
      fresh.labels(label) = fresh.labels(label)
        .copy(shred = lm2.shred, shredOff = lm2.shredOff)
      writeMeta(graph, fresh)
    }
  }

  /** DROP VLABEL leaves edges that referenced the dropped vertices in
    * place (documented deviation: the reference's dependency machinery
    * forces CASCADE through edge labels; here edge labels are
    * independent tables). Path queries over such DANGLING edges are a
    * degraded state: vertex-attaching plans (path variables,
    * shortestpath results) inner-join the vertex union and drop or
    * shorten paths whose interior vertices are gone, while
    * edge-only plans keep them — re-create the vertex label or delete
    * the orphan edges to restore consistency (r12 review, finding 3:
    * accepted behavior, recorded here instead of silently differing).
    */
  def dropLabel(graph: String, name: String): Unit =
      withLabelWrite(graph, name) { withMetaLock(graph) {
    val m = readMeta(graph)
    require(m.labels.contains(name), s"label \"$name\" does not exist")
    require(!m.labels.values.exists(_.parents.contains(name)),
      s"label \"$name\" has children")
    m.labels.remove(name)
    // table-owned objects die with the table, in the same commit: the
    // label's constraints (its indexes live inside LabelMeta)
    writeMeta(graph, m.copy(constraints = m.constraints.filterNot(_.label == name)))
    rmTree(labelDir(graph, name))
  } }

  /** DROP VLABEL/ELABEL ... CASCADE (graphcmds.c drop route, tests
    * graphmeta.sql:40-50): dependent child labels drop first,
    * bottom-up. Edges referencing a dropped vertex label's vertices
    * remain in their own elabel tables (the reference behaves the same
    * — elabel rows are not foreign-keyed); ag_graphmeta hides rows
    * whose endpoint labels no longer resolve.
    */
  def dropLabelCascade(graph: String, name: String): Unit = {
    // multi-parent DAGs: a grandchild reachable through two paths is
    // dropped by the first recursion — re-check existence before each
    // step instead of trusting a stale child list
    if (!readMeta(graph).labels.contains(name)) return
    val children = readMeta(graph).labels.values
      .filter(_.parents.contains(name)).map(_.name).toSeq.sorted
    children.foreach(dropLabelCascade(graph, _))
    if (readMeta(graph).labels.contains(name)) dropLabel(graph, name)
  }

  /** ALTER VLABEL/ELABEL ... [NO] INHERIT parent (gram.y ALTER TABLE
    * INHERIT route; inheritance maintenance graphcmds.c:416; tests
    * cypher_ddl.sql:163-168). Post-hoc reparenting: stored graphids
    * and data files are untouched — only the subtree/ancestor closure
    * changes, since scans expand inheritance at plan time.
    */
  def alterInherit(graph: String, name: String, parent: String,
      add: Boolean): Unit = withMetaLock(graph) {
    if (parent == "ag_vertex" || parent == "ag_edge")
      throw new IllegalStateException("cannot ALTER inheritance with base label")
    val m = readMeta(graph)
    val lm = labelMeta(m, name)
    if (add) {
      val pm = m.labels.getOrElse(parent,
        throw new IllegalStateException(s"parent label \"$parent\" does not exist"))
      require(pm.kind == lm.kind, s"parent label \"$parent\" has different kind")
      if (lm.parents.contains(parent))
        throw new IllegalStateException(
          s"""label "$parent" would be inherited from more than once""")
      if (subtree(m, name).exists(_.name == parent))
        throw new IllegalStateException(
          s"""inheriting "$parent" would create an inheritance cycle""")
      m.labels(name) = lm.copy(parents = lm.parents :+ parent)
    } else {
      if (!lm.parents.contains(parent))
        throw new IllegalStateException(
          s"""label "$parent" is not a parent of "$name"""")
      m.labels(name) = lm.copy(parents = lm.parents.filterNot(_ == parent))
    }
    writeMeta(graph, m)
  }

  def label(graph: String, name: String): Option[LabelMeta] =
    readMeta(graph).labels.get(name)

  def labels(graph: String): Seq[LabelMeta] = readMeta(graph).labels.values.toSeq

  /** Catalog as DataFrames (`\dG`-style views, SURVEY §2.12): one row
    * per label with name/labid/kind/parents — queryable/joinable like
    * any table (ag_label analog).
    */
  def labelsDf(graph: String): DataFrame = {
    import spark.implicits._
    labels(graph).map(l => (l.name, l.labid, l.kind.toString, l.parents,
        l.persistence.toString, l.indexDisabled))
      .toDF("labname", "labid", "labkind", "parents",
        "persistence", "index_disabled")
  }

  def graphsDf(): DataFrame = {
    import spark.implicits._
    val names = scala.collection.mutable.ArrayBuffer[String]()
    val s0 = Files.list(Paths.get(root))
    try {
      val gs = s0.iterator()
      while (gs.hasNext) {
        val p = gs.next()
        if (Files.exists(p.resolve("_graph.json")))
          names += p.getFileName.toString
      }
    } finally s0.close()
    names.toSeq.sorted.map(n => (n, graphOwner(n).orNull))
      .toDF("graphname", "owner")
  }

  /** labid -> label name map (for label()/type() functions). */
  def labidNames(graph: String): Map[Int, String] =
    readMeta(graph).labels.values.map(l => l.labid -> l.name).toMap

  /** Transitive descendants (inheritance subtree), self included —
    * scanning a label scans its subtree (PG inheritance expansion).
    */
  private def subtree(m: GraphMeta, name: String): Seq[LabelMeta] = {
    val out = mutable.LinkedHashSet[String]()
    def rec(n: String): Unit = if (out.add(n))
      m.labels.values.filter(_.parents.contains(n)).foreach(l => rec(l.name))
    rec(name)
    out.toSeq.flatMap(m.labels.get)
  }

  /** Ancestor closure, self included, DAG-deduped — labels() semantics
    * (graph.c vertex_labels → pg_inherits.c find_all_ancestors:735):
    * a BFS worklist where each node's parents are visited in CREATION
    * order (find_inheritance_parents qsorts parent OIDs — labid here),
    * appending only unseen labels. Diamond closures like
    * cypher_func.sql's complex1 "l" therefore list level by level,
    * not depth-first.
    */
  def ancestors(graph: String, name: String): Seq[String] =
    ancestors(readMeta(graph), name)

  private def ancestors(m: GraphMeta, name: String): Seq[String] = {
    val out = mutable.LinkedHashSet[String](name)
    val queue = mutable.Queue(name)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      val parents = m.labels.get(n).toSeq.flatMap(_.parents)
        .sortBy(p => m.labels.get(p).map(_.labid).getOrElse(Int.MaxValue))
      parents.foreach { p => if (out.add(p)) queue.enqueue(p) }
    }
    out.toSeq
  }

  // ------------------------------------------------------- id sequences

  /** Reserve a contiguous locid range for a label (driver-owned
    * sequence; tasks then assign ids per-partition within the range —
    * the distributed-safe analog of the per-label PG sequence).
    */
  def reserveIds(graph: String, label: String, n: Long): Long = withMetaLock(graph) {
    val m = readMeta(graph)
    val cur = m.sequences.getOrElse(label, 1L)
    require(cur + n <= GraphId.LocidMax, "locid budget exhausted")
    m.sequences(label) = cur + n
    writeMeta(graph, m)
    cur
  }

  // ------------------------------------------------- property shredding

  /** Sidecar column names for a shredded top-level property key:
    * `__pj_<key>` — the jsonb value text (materialized `properties->key`,
    * saves the full-document parse on every access);
    * `__pn_<key>` — exact decimal(38,18) (uniformly numeric keys; gives
    * parquet min/max pushdown for property comparisons);
    * `__ps_<key>` — raw string (uniformly string keys; pushdown for
    * equality and string predicates).
    * The same idea as Parquet/Spark variant shredding: pay an extra
    * column at write, win columnar stats + no JSON parse at read.
    */
  def pjCol(key: String): String = s"__pj_$key"
  def pnCol(key: String): String = s"__pn_$key"
  def psCol(key: String): String = s"__ps_$key"

  val shredDecimal: DecimalType = DecimalType(38, 18)
  private val ShredMaxKeys = 32
  private val ShredKeyRe = "^[A-Za-z_][A-Za-z0-9_]*$".r
  // exactly representable in decimal(38,18), no exponent notation
  private val ShredNumRe = "^-?[0-9]{1,20}(\\.[0-9]{1,18})?$"

  /** One-pass batch shred discovery: the distinct sanitized keys AND
    * their uniform-type classification from a single aggregation
    * (replaces the separate key-collect + classify scans on the write
    * path — every write statement pays this, so one parse pass
    * matters). Returns a sorted map, matching batchKeys order.
    */
  private[graph] def batchKeyTypes(df: DataFrame): scala.collection.immutable.TreeMap[String, String] = {
    import org.apache.spark.sql.functions._
    // keys that can't be shredded (anything beyond [A-Za-z0-9_]) are
    // dropped BEFORE the dynamic lookup: quoting such a key with plain
    // concat would produce invalid jsonb (quotes/backslashes/control
    // chars are legal in backtick-quoted Cypher keys) and fail the
    // whole write inside Jsonb.parse
    val exploded = df.select(col("properties"),
      explode(json_object_keys(col("properties"))).as("k"))
      .where(col("k").rlike(ShredKeyRe.regex))
    // dynamic key lookup: the surviving keys contain no escapes by
    // construction, so plain quoting re-enters jsonb space safely
    val v = graft.expr.J.getDyn(col("properties"),
      concat(lit("\""), col("k"), lit("\"")))
    // the collect is HARD-BOUNDED at ShredMaxKeys + 1 rows: a batch
    // with machine-generated keys (k_000001…, common in scraped/LLM
    // corpora) may hold millions of distinct keys, and collecting them
    // all to the driver before the cap check would sink the 100-TB
    // ingest path. Hitting the limit returns a map of size
    // ShredMaxKeys + 1, which every caller's `> ShredMaxKeys` check
    // routes to shredOff — same decision, O(cap) driver memory.
    val rows = exploded.groupBy("k").agg(
      count(when(v.isNotNull && !v.rlike(ShredNumRe), 1)).as("nn"),
      count(when(v.isNotNull && !v.startsWith("\""), 1)).as("ns"))
      .limit(ShredMaxKeys + 1).collect()
    val pairs = rows.iterator.map { r =>
      val t = if (r.getAs[Long]("nn") == 0L) "n"
        else if (r.getAs[Long]("ns") == 0L) "s"
        else "j"
      r.getString(0) -> t
    }
    scala.collection.immutable.TreeMap[String, String]() ++ pairs
  }

  /** Merge batch classifications into the label's shred meta. A key
    * seen with different uniform types across batches degrades to "j"
    * (the jsonb-text column stays valid in every file; typed columns
    * are dropped from the read schema).
    */
  private def mergeShred(old: Map[String, String],
      batch: Map[String, String]): Map[String, String] = {
    val out = mutable.LinkedHashMap[String, String]()
    out ++= old
    batch.foreach { case (k, t) =>
      out(k) = old.get(k) match {
        case None => t
        case Some(`t`) => t
        case Some(_) => "j"
      }
    }
    out.toMap
  }

  /** Extend a base-schema batch with shred sidecar columns. */
  private def withShredCols(df: DataFrame, types: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    types.toSeq.sortBy(_._1).foldLeft(df) { case (d, (k, t)) =>
      val v = graft.expr.J.getKey(col("properties"), k)
      val d2 = d.withColumn(pjCol(k), v)
      t match {
        case "n" => d2.withColumn(pnCol(k), col(pjCol(k)).cast(shredDecimal))
        case "s" => d2.withColumn(psCol(k), graft.expr.J.asText(col(pjCol(k))))
        case _ => d2
      }
    }
  }

  /** Parquet read schema for a label: base + its shred sidecars. */
  private def labelSchema(lm: LabelMeta): StructType = {
    val base = baseSchema(lm.kind)
    if (lm.shredOff) return base
    lm.shred.toSeq.sortBy(_._1).foldLeft(base) { case (s, (k, t)) =>
      val s2 = s.add(StructField(pjCol(k), StringType, nullable = true))
      t match {
        case "n" => s2.add(StructField(pnCol(k), shredDecimal, nullable = true))
        case "s" => s2.add(StructField(psCol(k), StringType, nullable = true))
        case _ => s2
      }
    }
  }

  /** Shred columns valid across a set of labels scanned together:
    * a key survives if no member poisons it; its typed column survives
    * only when every member that has the key agrees on the type.
    * Any shredOff member disables shredding for the whole union (its
    * rows' sidecars are not trustworthy).
    */
  private def commonShred(ms: Seq[LabelMeta]): Map[String, String] = {
    if (ms.exists(_.shredOff)) return Map.empty
    val allKeys = ms.flatMap(_.shred.keys).distinct
    allKeys.flatMap { k =>
      val types = ms.flatMap(_.shred.get(k)).distinct
      types match {
        case Seq(single) => Some(k -> single)
        case _ => Some(k -> "j") // disagree on typed col; pj still valid
      }
    }.toMap
  }

  // ------------------------------------------------------------- scans

  /** The label tables a pattern denotes (the reference's label
    * transform, parse_graph.c): every name must exist and be of `kind`,
    * with the reference's scan diagnostics; each name expands to its
    * inheritance subtree unless `only` (gram.y:18684); no names means
    * every label of `kind`. Deduplicated by name, so overlapping
    * subtrees (`[:road|lane]` with lane INHERITS road) contribute each
    * table once. The one resolution behind every pattern scan and every
    * labid filter, so the scan form and the filter form of a label
    * denote the same rows.
    */
  def labelSet(graph: String, names: Seq[String], kind: Char,
      only: Boolean): Seq[LabelMeta] = {
    val m = readMeta(graph)
    names.foreach { l =>
      val lm = m.labels.getOrElse(l,
        throw new IllegalArgumentException(s"""label "$l" does not exist"""))
      if (lm.kind != kind) throw new IllegalArgumentException(
        s"""label "$l" is ${if (lm.kind == 'e') "edge" else "vertex"} label""")
    }
    if (names.isEmpty) m.labels.values.filter(_.kind == kind).toSeq
    else names.flatMap(n => if (only) Seq(m.labels(n)) else subtree(m, n))
      .distinctBy(_.name)
  }

  /** Scan the [[labelSet]] a pattern denotes as ONE name-aligned union
    * (PG's Append over inheritance children): every member's rows carry
    * the same columns, with typed nulls for the shred sidecars of keys a
    * member never saw (= key absent). Empty labels are pruned at plan
    * time (metadata partition-pruning analog).
    */
  def scan(graph: String, names: Seq[String], kind: Char,
      only: Boolean): DataFrame = {
    val ls = labelSet(graph, names, kind, only)
    if (ls.isEmpty) emptyFrame(baseSchema(kind)) else alignedUnion(graph, ls)
  }

  /** One label with its subtree (`only`: the label's own table), of
    * whatever kind the label is.
    */
  def scan(graph: String, name: String, only: Boolean = false): DataFrame =
    scan(graph, Seq(name), labelMeta(readMeta(graph), name).kind, only)

  def scanOnly(graph: String, name: String): DataFrame = scan(graph, name, only = true)

  /** One label table with its shred sidecar columns (files written
    * before a key first appeared simply read as null = key absent).
    */
  private def readLabel(graph: String, lm: LabelMeta): DataFrame = {
    val dir = labelDir(graph, lm.name)
    val schema = labelSchema(lm)
    if (hasParquet(dir)) spark.read.schema(schema).parquet(dir.toString)
    else emptyFrame(schema)
  }

  /** Statically-empty relation (LocalRelation, not an empty RDD): its
    * emptiness is visible to Catalyst, so PropagateEmptyRelation folds
    * empty-label branches out of subtree unions and joins at plan
    * time — the metadata-pruning analog of skipping empty partitions.
    */
  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Align a set of label scans to a common (base + shred) shape by
    * column name and union them. Members that never saw a key
    * contribute typed nulls (= key absent).
    */
  private def alignedUnion(graph: String, ms: Seq[LabelMeta]): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = baseSchema(ms.head.kind)
    val shred = commonShred(ms)
    val shredFields = shred.toSeq.sortBy(_._1)
    ms.map { lm =>
      val df = readLabel(graph, lm)
      val cols = base.fields.map(f => col(f.name)) ++ shredFields.flatMap {
        case (k, t) =>
          def c(n: String, dt: DataType) =
            if (df.columns.contains(n)) col(n) else lit(null).cast(dt)
          Seq(c(pjCol(k), StringType)) ++ (t match {
            case "n" => Seq(c(pnCol(k), shredDecimal))
            case "s" => Seq(c(psCol(k), StringType))
            case _ => Nil
          })
      }
      df.select(cols: _*)
    }.reduce(_ unionAll _)
  }

  /** Recursive directory delete (shared by drop and the swap —
    * one definition, r12 review reuse finding). */
  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) { val s = Files.list(p)
      try s.iterator().asScala.foreach(rmTree) finally s.close() }
    Files.deleteIfExists(p)
  }

  private def hasParquet(dir: Path): Boolean =
    Files.exists(dir) && {
      // close the stream — this runs on the scan path (once per label
      // per MATCH) and an unclosed Files.list holds a directory fd
      // until finalization
      val s = Files.list(dir)
      try s.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }

  // ------------------------------------------------------------- writes

  /** Append rows to a label table, computing shred sidecar columns for
    * the batch (one extra pass: key discovery + type classification —
    * the write-side cost of read-side pushdown).
    */
  def append(graph: String, label: String, df: DataFrame): Unit =
    append(graph, label, df, knownTypes = None)

  /** Bulk-ingest fast path: when the caller KNOWS the batch's shred
    * key classification (props constructed from typed source columns,
    * e.g. the TPC-H graph fixture), the discovery/classification scan
    * is skipped — ONE pass over the batch instead of two (§6 one-pass
    * ingest; the inference pass re-executes the full input plan
    * including the jsonb normalization). The caller must guarantee the
    * map matches what batchKeyTypes would infer: every key matches
    * ShredKeyRe, "n" keys render as plain decimals on every row, "s"
    * keys as strings on every row — a wrong claim writes typed sidecar
    * columns that disagree with the documents.
    */
  def append(graph: String, label: String, df: DataFrame,
      knownTypes: Option[Map[String, String]]): Unit =
      withLabelWrite(graph, label) {
    val lm = labelMeta(readMeta(graph), label)
    val base = baseSchema(lm.kind)
    val clean = df.select(base.fields.map(f => org.apache.spark.sql.functions.col(f.name)): _*)
    val (out, lm2) = shredBatch(lm, clean, knownTypes
      .map(t => scala.collection.immutable.TreeMap[String, String]() ++ t)
      .getOrElse(batchKeyTypes(clean)))
    // cluster within files: vertices by id, edges by start — parquet
    // row-group min/max stats then prune id lookups and VLE seed scans
    // (the layout role the reference's btree/GIN indexes played)
    clusterSorted(out, lm2)
      .write.mode("append").parquet(labelDir(graph, label).toString)
    // Same-label appends hold this label's exclusive lock for the
    // whole method (committer staging + the meta merge are per-label
    // RMW)
    commitShred(graph, label, lm, lm2)
  }

  /** A batch's shred sidecars and the label meta after it: the batch's
    * keys merge into the label's layout, or shredding turns off past
    * ShredMaxKeys. Typed columns follow the MERGED view so the batch's
    * files agree with the read schema even when it degrades older
    * types. `batchTypes` is only evaluated when shredding is on.
    */
  private def shredBatch(lm: LabelMeta, batch: DataFrame,
      batchTypes: => scala.collection.immutable.TreeMap[String, String])
      : (DataFrame, LabelMeta) =
    if (lm.shredOff) (batch, lm)
    else {
      val types = batchTypes
      if ((lm.shred.keySet ++ types.keySet).size > ShredMaxKeys)
        (batch, lm.copy(shredOff = true))
      else {
        val merged = mergeShred(lm.shred, types)
        val writeTypes = types.map { case (k, _) => k -> merged(k) }
        (withShredCols(batch, writeTypes), lm.copy(shred = merged))
      }
    }

  /** Record a batch's shred layout (`lm2`, from [[shredBatch]] over the
    * pre-write read `lm`) in the label meta. Under the meta lock,
    * against a FRESH read: concurrent writes to DIFFERENT labels (bulk
    * ingest fans out one future per label) must not lose each other's
    * shred-meta updates through a stale read-modify-write of the
    * shared _graph.json — in this driver or another one (the lock is an
    * OS file lock) — and even serialized writes interleave with other
    * commits and concurrent DDL on it.
    */
  private def commitShred(graph: String, label: String, lm: LabelMeta,
      lm2: LabelMeta): Unit =
    if (lm2 != lm) withMetaLock(graph) {
      val fresh = readMeta(graph)
      val flm = fresh.labels(label)
      fresh.labels(label) =
        if (lm2.shredOff || flm.shredOff) flm.copy(shredOff = true)
        else flm.copy(shred = mergeShred(flm.shred, lm2.shred))
      writeMeta(graph, fresh)
    }

  /** In-file clustering order. Default: vertices by id, edges by start
    * (id lookups and VLE seed scans prune on row-group min/max). A
    * property index on a simple shredded key takes precedence — the
    * index declares that key the label's access path, so files cluster
    * on its shred column (typed when uniform) with the default key as
    * the secondary sort.
    */
  private def clusterSorted(df: DataFrame, lm: LabelMeta): DataFrame = {
    import org.apache.spark.sql.functions.col
    val default = if (lm.kind == 'v') "id" else "start"
    val idxCol = lm.indexes.iterator
      .flatMap(_.keys.headOption)
      .filter(k => ShredKeyRe.findFirstIn(k).isDefined)
      .flatMap(k => lm.shred.get(k).map {
        case "n" => pnCol(k)
        case "s" => psCol(k)
        case _ => pjCol(k)
      })
      .find(df.columns.contains)
    idxCol match {
      case Some(c) => df.sortWithinPartitions(col(c), col(default))
      case None => df.sortWithinPartitions(default)
    }
  }

  /** The copy-on-write swap every label rewrite ends in (keeps the
    * statement-level snapshot semantics of the reference's MVCC heap):
    * write `rows`, clustered for `lm`, into the label's staging
    * directory (clearing any leftover first), move the `kept` files of
    * the live directory in by rename (`k-` prefix on a name
    * collision), then replace the live directory with the staging one. A crash between
    * the delete and the move leaves the label without a directory; the
    * staging directory then holds its whole contents. The caller holds
    * the label's write lock and commits the meta.
    */
  private def swapLabel(graph: String, lm: LabelMeta, rows: DataFrame,
      kept: Seq[Path]): Unit = {
    val dir = labelDir(graph, lm.name)
    val staging = graphDir(graph).resolve(s"_staging_${lm.name}")
    rmTree(staging)
    clusterSorted(rows, lm).write.mode("overwrite").parquet(staging.toString)
    kept.foreach { p =>
      var target = staging.resolve(p.getFileName)
      if (Files.exists(target)) target = staging.resolve(s"k-${p.getFileName}")
      Files.move(p, target)
    }
    rmTree(dir)
    Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
  }

  /** File-pruned copy-on-write patch for point writes: rewrite ONLY
    * the parquet files of `label` whose id range intersects
    * `victimIds` (an "id"-column frame); every other file is kept BY
    * REFERENCE (an O(1) rename into the staging dir — no data copy,
    * bytes untouched). `patch` maps the touched files' base-schema
    * rows to their replacement rows.
    *
    * This is what makes SET/DELETE of k rows against a 100-TB label
    * cost O(touched files), not O(label): bulk load range-partitions
    * big labels and `append` sorts within files, so victim ids land in
    * few files and the id-range check prunes the rest. The per-file
    * min/max pass reads one narrow column (at cluster scale the same
    * ranges come from parquet footer stats); edge labels cluster by
    * `start`, so their id ranges may overlap more — pruning degrades
    * gracefully to the full rewrite, never below it.
    *
    * Returns (touchedRowsBefore, touchedRowsAfter) so DELETE can count
    * removals without scanning untouched files.
    */
  def patchFiles(graph: String, label: String, victimIds: DataFrame)
      (patch: DataFrame => DataFrame): (Long, Long) =
      withLabelWrite(graph, label) {
    import org.apache.spark.sql.functions._
    val lm = labelMeta(readMeta(graph), label)
    val dir = labelDir(graph, label)
    if (!hasParquet(dir)) return (0L, 0L)
    val schema = labelSchema(lm)
    val full = spark.read.schema(schema).parquet(dir.toString)
    // per-file id ranges + row counts (one narrow-column pass), then
    // touched files = files whose [lo, hi] contains at least one victim
    // id. The stats subtree has exactly ONE consumer — the broadcast
    // build of this join — so it needs no checkpoint, and the collected
    // rows carry the per-file count: the touched set and rowsBefore
    // come out of a single action (was: stats checkpoint + touched
    // collect + rowsBefore collect, three driver round-trips per patch)
    val stats = full.groupBy(input_file_name().as("__f"))
      .agg(min("id").as("__lo"), max("id").as("__hi"),
        count(lit(1)).as("__n"))
    val touchedRows = victimIds.select(col("id").as("__vid")).distinct()
      .join(broadcast(stats), col("__vid").between(col("__lo"), col("__hi")))
      .select("__f", "__n").distinct().collect()
    val touched = touchedRows.map(_.getString(0)).sorted
    if (touched.isEmpty) return (0L, 0L)
    val touchedSet = touched.toSet
    val rowsBefore = touchedRows.map(_.getLong(1)).sum
    val allFiles = {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector.filter(
        _.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val untouched = allFiles.filterNot(p => touchedSet.contains(p.toUri.toString))
    val base = baseSchema(lm.kind)
    val touchedDf = spark.read.schema(schema).parquet(touched: _*)
    // snapshot BEFORE deleting the source files (the patch plan reads
    // the files being replaced); rowsAfter rides the checkpoint
    val (patched, rowsAfter) = GraphCatalog.checkpointCounted(
      patch(touchedDf.select(base.fields.map(f => col(f.name)): _*))
        .select(base.fields.map(f => col(f.name)): _*))
    // shred sidecars for the rewritten batch follow append's merge
    // rule (untouched files keep their layout; readers treat absent
    // columns as absent keys)
    val (out, lm2) = shredBatch(lm, patched, batchKeyTypes(patched))
    swapLabel(graph, lm2, out, untouched)
    commitShred(graph, label, lm, lm2)
    (rowsBefore, rowsAfter)
  }

  // --------------------------------------------------------- graphmeta

  /** Edge-count statistics matrix (start labid, edge labid, end labid)
    * -> count — ag_graphmeta (reference ag_graphmeta.h:30-37). The
    * reference maintains it on write (auto_gather_graphmeta); here it
    * is one aggregation over the edge tables — always fresh, no
    * write-path coupling, and the same shape feeds join-size estimates.
    */
  def graphmeta(graph: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val names = labidNames(graph)
    val nameCol = {
      val m = names.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }
      if (m.isEmpty) map() else map(m: _*)
    }
    labidTriples(graph)
      .select(element_at(nameCol, col("start_labid")).as("start"),
        element_at(nameCol, col("edge_labid")).as("edge"),
        element_at(nameCol, col("end_labid")).as("end"),
        col("edgecount"))
      // rows whose endpoint label was dropped (DROP VLABEL leaves the
      // edge rows, like the reference) no longer resolve to a name —
      // ag_graphmeta drops them on label drop (graphmeta.sql:44-50)
      .where(col("start").isNotNull && col("edge").isNotNull &&
        col("end").isNotNull)
  }

  /** (start_labid, edge_labid, end_labid, edgecount) over every edge
    * table: the one aggregation behind [[graphmeta]] and
    * [[graphmetaCounts]].
    */
  private def labidTriples(graph: String): DataFrame = {
    import org.apache.spark.sql.functions._
    scan(graph, Nil, 'e', only = false)
      .select(GraphId.labidOf(col("start")).as("start_labid"),
        GraphId.labidOf(col("id")).as("edge_labid"),
        GraphId.labidOf(col("end")).as("end_labid"))
      .groupBy("start_labid", "edge_labid", "end_labid")
      .agg(count(lit(1)).as("edgecount"))
  }

  /** ag_graphmeta as a planning input: the (start labid, edge labid,
    * end labid) -> count matrix, cached per graph and invalidated by a
    * cheap file-listing fingerprint over the edge label directories
    * (the reference keeps these stats fresh on write via
    * auto_gather_graphmeta, ag_graphmeta.h:30-37 — here a write changes
    * the files, the fingerprint changes, and the next planning lookup
    * recomputes). One aggregation job per write-generation, shared by
    * every MATCH planned against that generation.
    */
  def graphmetaCounts(graph: String): Map[(Int, Int, Int), Long] = {
    val fp = {
      val sb = new StringBuilder
      readMeta(graph).labels.values.filter(_.kind == 'e').toSeq
        .sortBy(_.name).foreach { lm =>
          val dir = labelDir(graph, lm.name)
          sb ++= lm.name
          if (Files.isDirectory(dir)) {
            val s = Files.list(dir)
            try s.sorted().forEach { p =>
              sb ++= p.getFileName.toString
              sb += ':'
              sb ++= (try Files.size(p).toString catch { case _: Throwable => "?" })
              sb += ';'
            } finally s.close()
          }
        }
      sb.toString.hashCode
    }
    // Staleness tolerance: the counts only steer ADVISORY planning
    // (broadcast hints; the endpoint filters derive from pattern
    // labels, never from counts), so a write-invalidated matrix may
    // serve stale for up to graphmetaRefreshSecs before recomputing —
    // a write-heavy workload must not pay a full edge aggregation
    // after every statement. 0 = always fresh (the spec's setting).
    val ttlNanos = (try spark.conf
      .get("spark.graft.graphmetaRefreshSecs", "30").toDouble
      catch { case _: Throwable => 30.0 }) * 1e9
    metaCountsCache.synchronized(metaCountsCache.get(graph)) match {
      case Some((`fp`, m, _)) => m
      case Some((_, m, at)) if (System.nanoTime() - at).toDouble < ttlNanos =>
        m
      case _ =>
        val m = labidTriples(graph).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
          .toMap
        metaCountsCache.synchronized {
          metaCountsCache(graph) = (fp, m, System.nanoTime())
        }
        m
    }
  }
  private val metaCountsCache = scala.collection.mutable
    .Map[String, (Int, Map[(Int, Int, Int), Long], Long)]()

  // ------------------------------------------------------- constraints

  /** Label constraints (reference: CreateConstraintCommand
    * graphcmds.c:550; tests cypher_ddl.sql:240-362). kind: "unique"
    * (property expression unique across the label subtree) or "check"
    * (boolean Cypher expression over properties). They live in the
    * graph's one metadata document, so each commits with the label
    * DDL that owns it.
    */
  final case class ConstraintMeta(label: String, name: String, kind: String,
      expr: String)

  def addConstraint(graph: String, label: String, name: String, kind: String,
      expr: String): Unit = withMetaLock(graph) {
    require(Seq("unique", "check").contains(kind), s"bad constraint kind $kind")
    writeMeta(graph, withConstraint(readMeta(graph),
      ConstraintMeta(label, name, kind, expr)))
  }

  private def withConstraint(m: GraphMeta, c: ConstraintMeta): GraphMeta = {
    require(m.labels.contains(c.label), s"label \"${c.label}\" does not exist")
    require(!m.constraints.exists(_.name == c.name),
      s"constraint \"${c.name}\" already exists")
    m.copy(constraints = m.constraints :+ c)
  }

  def dropConstraint(graph: String, name: String): Unit = withMetaLock(graph) {
    val m = readMeta(graph)
    writeMeta(graph, m.copy(constraints = m.constraints.filterNot(_.name == name)))
  }

  def constraints(graph: String): Seq[ConstraintMeta] = readMeta(graph).constraints

  /** The constraints and every label's [[ancestors]] closure, from one
    * meta read (the write-time check's view of the catalog).
    */
  def constraintsAndAncestors(graph: String)
      : (Seq[ConstraintMeta], String => Seq[String]) = {
    val m = readMeta(graph)
    (m.constraints, ancestors(m, _))
  }

  // ----------------------------------------------------- meta (de)ser

  private case class GraphMeta(
      labels: mutable.LinkedHashMap[String, LabelMeta],
      nextLabid: Int,
      sequences: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty,
      owner: Option[String] = None,
      constraints: Vector[ConstraintMeta] = Vector.empty)

  private def writeMeta(g: String, m: GraphMeta): Unit = {
    import graft.jsonb._
    val labelsJson = JArr(m.labels.values.toVector.map { l =>
      Jsonb.mkObj(Seq(
        "name" -> JStr(l.name),
        "labid" -> JNum(java.math.BigDecimal.valueOf(l.labid)),
        "kind" -> JStr(l.kind.toString),
        "parents" -> JArr(l.parents.toVector.map(JStr)),
        "shred" -> Jsonb.mkObj(l.shred.toSeq.sortBy(_._1).map {
          case (k, t) => k -> JStr(t) }),
        "shredOff" -> JBool(l.shredOff),
        "indexes" -> JArr(l.indexes.toVector.map { ix =>
          Jsonb.mkObj(Seq(
            "name" -> JStr(ix.name),
            "keys" -> JArr(ix.keys.toVector.map(JStr)),
            "unique" -> JBool(ix.unique)))
        }),
        "persistence" -> JStr(l.persistence.toString),
        "indexDisabled" -> JBool(l.indexDisabled)))
    })
    val seqJson = Jsonb.mkObj(m.sequences.toSeq.map { case (k, v) =>
      k -> JNum(java.math.BigDecimal.valueOf(v)) })
    val doc = Jsonb.mkObj(Seq(
      "labels" -> labelsJson,
      "nextLabid" -> JNum(java.math.BigDecimal.valueOf(m.nextLabid)),
      "sequences" -> seqJson,
      "constraints" -> JArr(m.constraints.map(c => Jsonb.mkObj(Seq(
        "label" -> JStr(c.label), "name" -> JStr(c.name),
        "kind" -> JStr(c.kind), "expr" -> JStr(c.expr)))))) ++
      m.owner.map(o => "owner" -> (JStr(o): JValue)).toSeq)
    // write-temp + atomic rename: concurrent readers (parallel ingest
    // futures) must see the old or the new meta, never a torn file
    val tmp = graphDir(g).resolve(s"_graph.json.tmp.${Thread.currentThread().getId}")
    Files.writeString(tmp, doc.render)
    Files.move(tmp, metaPath(g), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def labelMeta(m: GraphMeta, name: String): LabelMeta =
    m.labels.getOrElse(name,
      throw new IllegalStateException(s"label \"$name\" does not exist"))

  private def readMeta(g: String): GraphMeta = {
    import graft.jsonb._
    if (!Files.exists(metaPath(g)))
      throw new IllegalStateException(s"graph \"$g\" does not exist")
    val doc = Jsonb.parse(Files.readString(metaPath(g))).asInstanceOf[JObj]
    def str(o: JObj, k: String): String = o.get(k).collect { case JStr(s) => s }.get
    val labels = mutable.LinkedHashMap[String, LabelMeta]()
    doc.get("labels").foreach {
      case JArr(items) => items.foreach { case o: JObj =>
        val name = str(o, "name")
        labels(name) = LabelMeta(
          name,
          o.get("labid").collect { case JNum(n) => n.intValue }.get,
          o.get("kind").collect { case JStr(s) => s.head }.get,
          o.get("parents").collect { case JArr(ps) =>
            ps.collect { case JStr(s) => s } }.getOrElse(Vector.empty),
          o.get("shred").collect { case JObj(fs) =>
            fs.collect { case (k, JStr(t)) => k -> t }.toMap }.getOrElse(Map.empty),
          o.get("shredOff").collect { case JBool(b) => b }.getOrElse(false),
          o.get("indexes").collect { case JArr(ixs) =>
            ixs.collect { case ix: JObj =>
              PropIndexMeta(
                str(ix, "name"),
                ix.get("keys").collect { case JArr(ks) =>
                  ks.collect { case JStr(s) => s } }.getOrElse(Vector.empty),
                ix.get("unique").collect { case JBool(b) => b }
                  .getOrElse(false))
            } }.getOrElse(Vector.empty),
          o.get("persistence").collect { case JStr(s) => s.head }.getOrElse('p'),
          o.get("indexDisabled").collect { case JBool(b) => b }.getOrElse(false))
        case _ => ()
      }
      case _ => ()
    }
    val sequences = mutable.LinkedHashMap[String, Long]()
    doc.get("sequences").foreach {
      case JObj(fields) => fields.foreach {
        case (k, JNum(n)) => sequences(k) = n.longValue
        case _ => ()
      }
      case _ => ()
    }
    // a graph written before constraints moved into this document
    // keeps them in _constraints.json (same array); the next meta
    // write records them here
    val legacy = graphDir(g).resolve("_constraints.json")
    val constraints = doc.get("constraints").orElse(
      if (Files.exists(legacy)) Some(Jsonb.parse(Files.readString(legacy)))
      else None).collect { case JArr(items) =>
      items.collect { case o: JObj =>
        ConstraintMeta(str(o, "label"), str(o, "name"), str(o, "kind"), str(o, "expr"))
      } }.getOrElse(Vector.empty)
    GraphMeta(labels,
      doc.get("nextLabid").collect { case JNum(n) => n.intValue }.getOrElse(1),
      sequences,
      owner = doc.get("owner").collect { case JStr(s) => s },
      constraints = constraints)
  }
}
