package graphbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.J
import graft.pipeline.GraphAnalytics

/** What the engine is asked to do in one op. */
sealed trait Stmt
/** `CypherSession.cypher(text, params)`. */
final case class Cypher(text: String, params: Map[String, Any] = Map.empty) extends Stmt
/** `CypherSession.sql(text)`: SQL with embedded `(MATCH ...)` blocks. */
final case class HybridSql(text: String) extends Stmt
/** A `GraphAnalytics` call over an edge list built from the raw tables. */
final case class Analytics(desc: String, call: SparkSession => DataFrame) extends Stmt

/** How an op's materialized result is checked. */
sealed trait Expect
/** The relational equivalent, as Spark SQL over the raw tables. */
final case class Oracle(sql: String) extends Expect
/** Rows implied by the generated parameters (write read-backs). */
final case class Exact(rows: Seq[Seq[Any]]) extends Expect
/** A plain driver-side reference algorithm over the raw tables. */
final case class Reference(rows: SparkSession => Seq[Seq[Any]]) extends Expect
/** A write statement: the `lastWriteStats` counters it must report. */
final case class Stats(counters: Map[String, Long]) extends Expect

/** One generated op. `shape` turns the engine's result into typed
  * columns (jsonb -> text/long/double), as any caller would before
  * consuming it; `ordered` marks results whose row order is specified.
  * A write op carries the read-back the client runs right after it.
  */
final case class Op(template: String, round: Int, stmt: Stmt,
    shape: DataFrame => DataFrame, expect: Expect, ordered: Boolean = false,
    readBack: Option[Op] = None) {
  def text: String = stmt match {
    case Cypher(t, p) => if (p.isEmpty) t else s"$t  -- params ${p.toSeq.sortBy(_._1).mkString(", ")}"
    case HybridSql(t) => t
    case Analytics(d, _) => d
  }
}

/** The three workloads. A workload is a fixed cycle of templates; the
  * seed only draws each op's parameters, so every seed runs the same
  * template mix. Round r of a workload is a pure function of (seed, r).
  */
object Workloads {
  val names: Seq[String] = Seq("read_mix", "traverse", "write_mix")

  /** The optional parts of the graph each workload reads. */
  def graphParts(workload: String): Set[Graph.Part] = workload match {
    case "read_mix" => Set(Graph.Orders)
    case "traverse" => Set(Graph.Ships)
    case _ => Set.empty
  }

  /** What the generators need to know about the loaded graph. */
  final case class Ctx(sizes: Data.Sizes, customerLabid: Int)

  def roundOps(workload: String, seed: Long, r: Int, ctx: Ctx): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + r * 7919L + names.indexOf(workload))
    workload match {
      case "read_mix" => readMix(rnd, r, ctx)
      case "traverse" => traverse(rnd, r, ctx)
      case "write_mix" => writeMix(rnd, r, ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Typed projection of jsonb result columns: `name:s` text, `name:l`
    * long, `name:d` double rounded to 2 places.
    */
  private def typed(spec: String*)(df: DataFrame): DataFrame = df.select(spec.map { s =>
    val Array(n, t) = s.split(':')
    val c = col(n)
    (t match {
      case "s" => J.asText(c)
      case "l" => J.toLong(c)
      case "d" => round(J.toDouble(c), 2)
    }).as(n)
  }: _*)
  private def longs(names: String*)(df: DataFrame): DataFrame =
    df.select(names.map(n => col(n).cast("long").as(n)): _*)

  private def pick[A](rnd: scala.util.Random, xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
  private def between(rnd: scala.util.Random, lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  private def q(s: String): String = s"'$s'"
  private val dsum = (c: String) => s"CAST(sum(CAST($c AS DECIMAL(28,2))) AS DOUBLE)"

  // ------------------------------------------------------------ read_mix
  private def readMix(rnd: scala.util.Random, r: Int, ctx: Ctx): Seq[Op] = {
    val C = ctx.sizes.customers
    val seg = pick(rnd, Data.segments)
    val nat = rnd.nextInt(Data.nations)
    def op(t: String, s: Stmt, shape: DataFrame => DataFrame, sql: String, ordered: Boolean = false) =
      Op(t, r, s, shape, Oracle(sql), ordered)
    val thr1 = 300000 + 1000 * rnd.nextInt(180)
    val thr2 = 380000 + 1000 * rnd.nextInt(100)
    val bal3 = 8000 + 10 * rnd.nextInt(195)
    val st4 = pick(rnd, Seq("P", "F"))
    val bal4 = 10 * rnd.nextInt(900)
    val k5 = between(rnd, 8, 16)
    val (thr6, lim6) = (200000 + 1000 * rnd.nextInt(250), between(rnd, 5, 50))
    val bal7 = 100 * rnd.nextInt(90)
    val bal8 = 100 * rnd.nextInt(99)
    val ck9 = rnd.nextInt(C.toInt).toLong
    val lo10 = 100 * rnd.nextInt(80)
    val hi10 = lo10 + 500 + 100 * rnd.nextInt(15)
    val letter10 = pick(rnd, Data.segments.map(_.take(1)).distinct)
    val lo11 = 1000 * rnd.nextInt(450)
    val hi11 = lo11 + 5000 + 1000 * rnd.nextInt(45)
    val (d13, t13) = (between(rnd, 45, 60), 400000 + 1000 * rnd.nextInt(80))
    val thr14 = 400000 + 1000 * rnd.nextInt(60)
    Seq(
      op("r01_match_agg",
        Cypher("""MATCH (c:customer)-[:placed]->(o:order)
                 |WHERE o.totalprice > $thr
                 |RETURN c.mktsegment AS seg, count(*) AS n""".stripMargin, Map("thr" -> thr1)),
        typed("seg:s", "n:l"),
        s"""SELECT c_mktsegment AS seg, count(*) AS n
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE o_totalprice > $thr1 GROUP BY 1""".stripMargin),
      op("r02_chain3",
        Cypher("""MATCH (o:order)<-[:placed]-(c:customer)-[:in]->(n:nation)-[:in]->(r:region)
                 |WHERE o.totalprice > $thr AND c.mktsegment = $seg
                 |RETURN r.name AS region, n.name AS nation, count(*) AS n""".stripMargin,
          Map("thr" -> thr2, "seg" -> seg)),
        typed("region:s", "nation:s", "n:l"),
        s"""SELECT r_name AS region, n_name AS nation, count(*) AS n
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |  JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
           |WHERE o_totalprice > $thr2 AND c_mktsegment = ${q(seg)} GROUP BY 1, 2""".stripMargin),
      op("r03_optional",
        Cypher("""MATCH (n:nation) OPTIONAL MATCH (n)<-[:in]-(c:customer)
                 |WHERE c.acctbal > $bal
                 |RETURN n.name AS nation, count(c) AS rich""".stripMargin, Map("bal" -> bal3)),
        typed("nation:s", "rich:l"),
        s"""SELECT n_name AS nation, count(c_custkey) AS rich
           |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey AND c_acctbal > $bal3
           |GROUP BY 1""".stripMargin),
      op("r04_not_exists",
        Cypher(s"""MATCH (c:customer)-[:in]->(n:nation)
                  |WHERE c.acctbal > $$bal AND NOT exists((c)-[:placed]->(:order {status: '$st4'}))
                  |RETURN n.name AS nation, count(*) AS n""".stripMargin, Map("bal" -> bal4)),
        typed("nation:s", "n:l"),
        s"""SELECT n_name AS nation, count(*) AS n
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_acctbal > $bal4 AND NOT EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_orderstatus = '$st4')
           |GROUP BY 1""".stripMargin),
      op("r05_size_pattern",
        Cypher(s"""MATCH (c:customer)-[:in]->(n:nation)
                  |WHERE size((c)-[:placed]->()) >= $k5
                  |RETURN n.name AS nation, count(*) AS n""".stripMargin),
        typed("nation:s", "n:l"),
        s"""SELECT n_name AS nation, count(*) AS n
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |  JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) oc
           |    ON o_custkey = c_custkey
           |WHERE cnt >= $k5 GROUP BY 1""".stripMargin),
      op("r06_with_topk",
        Cypher(s"""MATCH (c:customer {mktsegment: $$seg})-[:placed]->(o:order)
                  |WHERE o.totalprice > $$thr
                  |WITH c, count(*) AS n_ord
                  |RETURN c.name AS name, n_ord ORDER BY n_ord DESC, name LIMIT $lim6""".stripMargin,
          Map("seg" -> seg, "thr" -> thr6)),
        typed("name:s", "n_ord:l"),
        s"""SELECT c_name AS name, count(*) AS n_ord
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_mktsegment = ${q(seg)} AND o_totalprice > $thr6
           |GROUP BY 1 ORDER BY n_ord DESC, name LIMIT $lim6""".stripMargin,
        ordered = true),
      op("r07_unwind_collect",
        Cypher("""MATCH (c:customer)-[:in]->(n:nation)
                 |WHERE c.acctbal > $bal
                 |WITH n, collect(c.acctbal) AS bals
                 |UNWIND bals AS b
                 |RETURN n.name AS nation, count(*) AS n_vals, sum(b) AS tot""".stripMargin,
          Map("bal" -> bal7)),
        typed("nation:s", "n_vals:l", "tot:d"),
        s"""SELECT n_name AS nation, count(*) AS n_vals, ${dsum("c_acctbal")} AS tot
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_acctbal > $bal7 GROUP BY 1""".stripMargin),
      op("r08_edge_types",
        Cypher("""MATCH (c:customer)-[e:in|placed]->(x)
                 |WHERE c.acctbal > $bal
                 |RETURN type(e) AS et, count(*) AS n""".stripMargin, Map("bal" -> bal8)),
        typed("et:s", "n:l"),
        s"""SELECT 'in' AS et, count(*) AS n FROM customer WHERE c_acctbal > $bal8
           |UNION ALL
           |SELECT 'placed', count(*) FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_acctbal > $bal8""".stripMargin),
      op("r09_id_lookup",
        Cypher("""MATCH (c:customer)-[:placed]->(o:order)
                 |WHERE id(c) = $cid
                 |RETURN o.status AS status, count(*) AS n, sum(o.totalprice) AS tot""".stripMargin,
          Map("cid" -> graft.graph.GraphId.pack(ctx.customerLabid, ck9))),
        typed("status:s", "n:l", "tot:d"),
        s"""SELECT o_orderstatus AS status, count(*) AS n, ${dsum("o_totalprice")} AS tot
           |FROM orders WHERE o_custkey = $ck9 GROUP BY 1""".stripMargin),
      op("r10_jsonpath",
        Cypher(s"""MATCH (c:customer)-[:in]->(n:nation)
                  |WHERE jsonb_path_exists(properties(c), '$$.acctbal ? (@ > $lo10 && @ <= $hi10)')
                  |  AND jsonb_path_match(properties(c), '$$.mktsegment starts with "$letter10"')
                  |RETURN n.name AS nation, count(*) AS n""".stripMargin),
        typed("nation:s", "n:l"),
        s"""SELECT n_name AS nation, count(*) AS n
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_acctbal > $lo10 AND c_acctbal <= $hi10 AND c_mktsegment LIKE '$letter10%'
           |GROUP BY 1""".stripMargin),
      op("r11_shred_range",
        Cypher("""MATCH (o:order)
                 |WHERE o.totalprice >= $lo AND o.totalprice < $hi
                 |RETURN o.status AS status, count(*) AS n, sum(o.totalprice) AS tot""".stripMargin,
          Map("lo" -> lo11, "hi" -> hi11)),
        typed("status:s", "n:l", "tot:d"),
        s"""SELECT o_orderstatus AS status, count(*) AS n, ${dsum("o_totalprice")} AS tot
           |FROM orders WHERE o_totalprice >= $lo11 AND o_totalprice < $hi11 GROUP BY 1""".stripMargin),
      op("r12_sql_from",
        HybridSql(s"""SELECT trim(BOTH '"' FROM jt.seg) AS seg, count(*) AS n_orders
                     |FROM (MATCH (c:customer)-[:in]->(n:nation {name: 'NATION_$nat'})
                     |      RETURN c.ck AS ck, c.mktsegment AS seg) jt
                     |JOIN orders ON o_custkey = CAST(jt.ck AS BIGINT)
                     |GROUP BY 1""".stripMargin),
        df => df.select(col("seg"), col("n_orders").cast("long")),
        s"""SELECT c_mktsegment AS seg, count(*) AS n_orders
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_nationkey = $nat GROUP BY 1""".stripMargin),
      op("r13_sql_exists",
        HybridSql(s"""SELECT count(*) AS n_orders FROM
                     |  (SELECT CAST(floor(o_totalprice / $d13) AS BIGINT) AS thr
                     |   FROM orders WHERE o_totalprice > $t13) t
                     |WHERE EXISTS (MATCH (c:customer)
                     |  WHERE c.acctbal > t.thr AND c.mktsegment = ${q(seg)} RETURN c)""".stripMargin),
        df => df.select(col("n_orders").cast("long")),
        s"""SELECT count(*) AS n_orders FROM
           |  (SELECT CAST(floor(o_totalprice / $d13) AS BIGINT) AS thr
           |   FROM orders WHERE o_totalprice > $t13) t
           |WHERE EXISTS (SELECT 1 FROM customer
           |  WHERE c_acctbal > thr AND c_mktsegment = ${q(seg)})""".stripMargin),
      op("r14_rows",
        Cypher("""MATCH (c:customer)-[:placed]->(o:order)
                 |WHERE c.mktsegment = $seg AND o.totalprice > $thr
                 |RETURN c.name AS name, o.totalprice AS price, o.status AS status""".stripMargin,
          Map("seg" -> seg, "thr" -> thr14)),
        typed("name:s", "price:d", "status:s"),
        s"""SELECT c_name AS name, o_totalprice AS price, o_orderstatus AS status
           |FROM customer JOIN orders ON o_custkey = c_custkey
           |WHERE c_mktsegment = ${q(seg)} AND o_totalprice > $thr14""".stripMargin))
  }

  // ------------------------------------------------------------ traverse
  private def traverse(rnd: scala.util.Random, r: Int, ctx: Ctx): Seq[Op] = {
    val sz = ctx.sizes
    val seg = pick(rnd, Data.segments)
    def op(t: String, s: Stmt, shape: DataFrame => DataFrame, e: Expect) = Op(t, r, s, shape, e)
    def graphOp(t: String, desc: String, edges: String, run: DataFrame => DataFrame,
        cols: Seq[String], ref: Seq[(Long, Long)] => Seq[Seq[Any]]) =
      op(t, Analytics(s"$desc over [$edges]", sp => run(sp.sql(edges))), longs(cols: _*),
        Reference(sp => ref(Ref.edges(sp.sql(edges)))))
    val depth = between(rnd, 2, 4)
    val sup = rnd.nextInt(sz.suppliers.toInt)
    val topK = between(rnd, 1, 3) // k = 1 is the plain cheapest path
    val kcoreK = between(rnd, 2, 4)
    // the analytics inputs vary by ~20% around a fixed size, so every
    // seed asks for about the same amount of work
    val kcoreThr = 200000 + 1000 * rnd.nextInt(50)
    val stressCust = between(rnd, 100, 120)

    // edge lists (u, v) for the GraphAnalytics calls; vertex ids of the
    // different tables are kept apart by constant offsets
    // k-core: same-region nation cliques (degree 4) with customers and
    // orders hanging off them, which peel away
    val kcoreEdges = s"""SELECT x.n_nationkey + 1000000 AS u, y.n_nationkey + 1000000 AS v
                        |FROM nation x JOIN nation y
                        |  ON x.n_regionkey = y.n_regionkey AND x.n_nationkey < y.n_nationkey
                        |UNION ALL SELECT c_custkey, c_nationkey + 1000000 FROM customer
                        |UNION ALL SELECT o_orderkey + 2000000, o_custkey FROM orders
                        |WHERE o_totalprice > $kcoreThr""".stripMargin
    // stress: customers linked to both their nation and their region
    val stressEdges = s"""SELECT c_custkey + 100000 AS u, c_nationkey + 1000 AS v FROM customer
                         |WHERE c_custkey < $stressCust
                         |UNION ALL
                         |SELECT c_custkey + 100000, n_regionkey FROM customer
                         |JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey < $stressCust""".stripMargin
    Seq(
      op("t01_vle",
        Cypher("""MATCH p = (c:customer {mktsegment: $seg})-[:in*0..2]->(x)
                 |RETURN label(x) AS lab, length(p) AS hops, size(nodes(p)) AS nv,
                 |  count(*) AS n""".stripMargin, Map("seg" -> seg)),
        typed("lab:s", "hops:l", "nv:l", "n:l"),
        Oracle(s"""SELECT lab, CAST(pos AS BIGINT) AS hops, CAST(pos + 1 AS BIGINT) AS nv,
                  |  count(*) AS n
                  |FROM customer LATERAL VIEW posexplode(array('customer', 'nation', 'region')) t AS pos, lab
                  |WHERE c_mktsegment = ${q(seg)} GROUP BY lab, pos""".stripMargin)),
      op("t02_shortestpath",
        Cypher(s"""MATCH p = shortestpath((c:customer {mktsegment: $$seg})-[:in*1..$depth]->(r:region))
                  |RETURN r.name AS region, length(p) AS hops, count(*) AS n""".stripMargin,
          Map("seg" -> seg)),
        typed("region:s", "hops:l", "n:l"),
        Oracle(s"""SELECT r_name AS region, CAST(2 AS BIGINT) AS hops, count(*) AS n
                  |FROM customer JOIN nation ON c_nationkey = n_nationkey
                  |  JOIN region ON n_regionkey = r_regionkey
                  |WHERE c_mktsegment = ${q(seg)} GROUP BY 1""".stripMargin)),
      op("t03_dijkstra_topk",
        Cypher(s"""MATCH p = dijkstra((s:supplier {name: $$sup})-[e:ships]->(t:part), e.qty LIMIT $topK)
                  |RETURN t.name AS part, count(*) AS n_paths, sum(head(e).qty) AS qty""".stripMargin,
          Map("sup" -> f"Supplier#$sup%09d")),
        typed("part:s", "n_paths:l", "qty:d"),
        Oracle(s"""WITH pool AS (
                  |  SELECT l_partkey, l_quantity,
                  |    row_number() OVER (PARTITION BY l_partkey ORDER BY l_quantity) AS rn
                  |  FROM lineitem WHERE l_suppkey = $sup)
                  |SELECT p_name AS part, count(*) AS n_paths, ${dsum("l_quantity")} AS qty
                  |FROM pool JOIN part ON p_partkey = l_partkey
                  |WHERE rn <= $topK GROUP BY 1""".stripMargin)),
      graphOp("t04_kcore", s"GraphAnalytics.kCore(k = $kcoreK)", kcoreEdges,
        GraphAnalytics.kCore(_, kcoreK), Seq("id", "deg"), Ref.kCore(_, kcoreK)),
      graphOp("t05_stress", "GraphAnalytics.stressCentrality(maxDepth = 4)", stressEdges,
        GraphAnalytics.stressCentrality(_, 4), Seq("id", "stress"), Ref.stress(_, 4)))
  }

  // ----------------------------------------------------------- write_mix
  /** One round creates, merges and links its own `item` batch, tags a
    * range of customers, then deletes the batch, so every round starts from an empty
    * `item` label and each read-back's expected rows follow from the
    * round's parameters alone. Batch ids are round numbers.
    */
  private def writeMix(rnd: scala.util.Random, r: Int, ctx: Ctx): Seq[Op] = {
    val C = ctx.sizes.customers.toInt
    // Batch sizes span a few rows to thousands within every round (at
    // sf0.1: CREATE, SET and DETACH DELETE ~1000 rows, MERGE ~20, edges
    // ~90); the seed moves the ranges and jitters sizes by ~10%, so
    // every seed measures the same per-row and per-statement mix.
    def jitter(x: Int): Int = between(rnd, x, x + x / 10)
    val n = jitter(C / 15) // CREATE
    val m = jitter(math.max(2, math.min(20, C / 20))) // MERGE range
    val h = m / 2 // rows of the MERGE range that already exist
    val lo = rnd.nextInt(C - n - m)
    val total = n - h + m // items after the MERGE: ck in [lo, lo + total)
    val cut = lo + jitter(math.max(2, math.min(80, total / 4))) // items below get an edge
    val k = jitter(C / 15) // SET on customers
    val sl = rnd.nextInt(C - k)
    val tag = r * 1000 + 7
    def sumRange(a: Long, b: Long): Long = (a until b).sum // [a, b)
    val b = Map("b" -> r)
    def write(t: String, text: String, params: Map[String, Any], stats: (String, Long)*)(
        readText: String, readParams: Map[String, Any], spec: String*)(row: Any*) =
      Op(t, r, Cypher(text, params), identity, Stats(stats.toMap), readBack = Some(
        Op(s"$t.read", r, Cypher(readText, readParams), typed(spec: _*), Exact(Seq(row.toSeq)))))
    Seq(
      write("w01_create",
        """MATCH (c:customer) WHERE c.ck >= $lo AND c.ck < $hi
          |CREATE (:item {batch: $b, ck: c.ck, bal: c.acctbal})""".stripMargin,
        b ++ Map("lo" -> lo, "hi" -> (lo + n)), "insertedvertices" -> n.toLong)(
        "MATCH (x:item {batch: $b}) RETURN count(*) AS n, sum(x.ck) AS s", b,
        "n:l", "s:l")(n.toLong, sumRange(lo, lo + n)),
      write("w02_merge_v",
        """MATCH (c:customer) WHERE c.ck >= $lo AND c.ck < $hi
          |MERGE (x:item {batch: $b, ck: c.ck})
          |ON CREATE SET x.src = 'merge'
          |ON MATCH SET x.hit = true""".stripMargin,
        b ++ Map("lo" -> (lo + n - h), "hi" -> (lo + n - h + m)), "insertedvertices" -> (m - h).toLong)(
        "MATCH (x:item {batch: $b}) RETURN count(*) AS n, count(x.hit) AS hits, count(x.src) AS created",
        b, "n:l", "hits:l", "created:l")(total.toLong, h.toLong, (m - h).toLong),
      write("w03_merge_e",
        """MATCH (x:item {batch: $b}), (c:customer)
          |WHERE x.ck = c.ck AND x.ck < $cut
          |MERGE (x)-[:of]->(c)""".stripMargin,
        b ++ Map("cut" -> cut), "insertededges" -> (cut - lo).toLong)(
        "MATCH (x:item {batch: $b})-[:of]->(c:customer) RETURN count(*) AS n, sum(c.ck) AS s",
        b, "n:l", "s:l")((cut - lo).toLong, sumRange(lo, cut)),
      write("w04_set",
        "MATCH (c:customer) WHERE c.ck >= $lo AND c.ck < $hi SET c.tag = $tag",
        Map("lo" -> sl, "hi" -> (sl + k), "tag" -> tag))(
        "MATCH (c:customer) WHERE c.tag = $tag RETURN count(*) AS n, min(c.ck) AS lo, max(c.ck) AS hi",
        Map("tag" -> tag), "n:l", "lo:l", "hi:l")(k.toLong, sl.toLong, (sl + k - 1).toLong),
      write("w05_detach_delete",
        "MATCH (x:item {batch: $b}) DETACH DELETE x", b,
        "deletedvertices" -> total.toLong, "deletededges" -> (cut - lo).toLong)(
        "MATCH ()-[e:of]->() RETURN count(*) AS n_edges", Map.empty, "n_edges:l")(0L))
  }
}
