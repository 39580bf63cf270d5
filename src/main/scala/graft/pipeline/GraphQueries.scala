package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.CypherSession
import graft.expr.{J, JsonbNormalize}
import graft.graph.{GraphCatalog, GraphId}
import graft.relational.Tables

/** The graph-operator surface of SURVEY §2 exercised against the
  * driver's DuckDB oracle: the TPC-H-ish tables become a property
  * graph (region <- nation <- customer -> orders), Cypher queries run
  * through the full engine (parser -> builder -> Catalyst), and each
  * query's relational equivalent is the oracle.
  *
  * Bulk load is a direct parquet write per label (the COPY analog,
  * SURVEY §2.1 sinks): ids pack the table's natural key into the
  * 48-bit locid, properties render to canonical jsonb.
  */
object GraphQueries {

  type Q = (SparkSession, String) => DataFrame

  // one graph build per (jvm, sfDir)
  private val sessions = scala.collection.mutable.Map[String, CypherSession]()

  def session(spark: SparkSession, sfDir: String): CypherSession = synchronized {
    sessions.getOrElseUpdate(sfDir, buildGraph(spark, sfDir))
  }

  /** Forgets the graph built over `sfDir`; returns its catalog root for
    * a caller that deletes its scratch data.
    */
  def release(sfDir: String): Option[String] = synchronized {
    sessions.remove(sfDir).map(_.catalog.root)
  }

  private def labid(s: CypherSession, label: String): Int =
    s.catalog.label(s.graphPath, label).get.labid

  private def buildGraph(spark: SparkSession, sfDir: String): CypherSession = {
    val root = Files.createTempDirectory("graft_tpch_graph").toString
    val s = new CypherSession(spark, new GraphCatalog(spark, root))
    s.createGraph("tpch")
    s.createVLabel("region"); s.createVLabel("nation")
    s.createVLabel("customer"); s.createVLabel("order")
    s.createELabel("in") // nation->region, customer->nation
    s.createELabel("placed") // customer->order

    val g = "tpch"
    def props(cols: (String, org.apache.spark.sql.Column)*) =
      JsonbNormalize.normalize(to_json(struct(cols.map { case (n, c) => c.as(n) }: _*)))

    // Bulk-load layout: target ~row-bounded files range-partitioned on
    // the scan/seed key (vertices: id, edges: start) so huge labels
    // scan in parallel with row-group min/max pruning intact. The
    // split count follows DATA SIZE, not core count — at bench scale
    // every label fits one file (extra splits only tax the iterative
    // loops with per-round task overhead), at 100 TB the same rule
    // yields thousands of parallel splits. One-time cost at graph
    // build, like any ingest.
    val rowsPerFile = 5000000L
    def spread(df: DataFrame, key: String): DataFrame = {
      val n = math.max(1L, (df.count() + rowsPerFile - 1) / rowsPerFile).toInt
      if (n == 1) df else df.repartitionByRange(n, col(key))
    }

    val region = Tables.load(spark, sfDir, "region")
    val nation = Tables.load(spark, sfDir, "nation")
    val customer = Tables.load(spark, sfDir, "customer")
    val orders = Tables.load(spark, sfDir, "orders")

    val rId = lit(GraphId.pack(labid(s, "region"), 0L))
    val nId = lit(GraphId.pack(labid(s, "nation"), 0L))
    val cId = lit(GraphId.pack(labid(s, "customer"), 0L))
    val oId = lit(GraphId.pack(labid(s, "order"), 0L))
    val inId = lit(GraphId.pack(labid(s, "in"), 0L))
    val plId = lit(GraphId.pack(labid(s, "placed"), 0L))

    s.createVLabel("supplier"); s.createVLabel("part")
    s.createELabel("ships")
    val supplier = Tables.load(spark, sfDir, "supplier")
    val part = Tables.load(spark, sfDir, "part")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val sId = lit(GraphId.pack(labid(s, "supplier"), 0L))
    val pId = lit(GraphId.pack(labid(s, "part"), 0L))
    val shId = lit(GraphId.pack(labid(s, "ships"), 0L))

    // Ingest fan-out: each label's append chain is one future —
    // different labels write to different parquet dirs and the catalog
    // meta read-modify-write is lock-guarded (GraphCatalog.append), so
    // the ten bulk loads overlap instead of queueing one Spark job at
    // a time (the fixture build was the g-suite's whole cold tail).
    // Big batches localCheckpoint first: append scans its input twice
    // (shred-type inference, then the write) and the jsonb
    // normalization is the expensive part of the scan.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def chk(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val tasks = Seq(
      Future {
        s.catalog.append(g, "region", region.select(
          (rId + col("r_regionkey")).cast("long").as("id"),
          props("name" -> col("r_name")).as("properties")),
          knownTypes = Some(Map("name" -> "s")))
      },
      Future {
        s.catalog.append(g, "nation", nation.select(
          (nId + col("n_nationkey")).cast("long").as("id"),
          props("name" -> col("n_name")).as("properties")),
          knownTypes = Some(Map("name" -> "s")))
      },
      Future {
        s.catalog.append(g, "customer", chk(spread(customer.select(
          (cId + col("c_custkey")).cast("long").as("id"),
          props("name" -> col("c_name"), "acctbal" -> col("c_acctbal"),
            "mktsegment" -> col("c_mktsegment")).as("properties")), "id")),
          knownTypes = Some(Map(
            "name" -> "s", "acctbal" -> "n", "mktsegment" -> "s")))
      },
      Future {
        s.catalog.append(g, "order", chk(spread(orders.select(
          (oId + col("o_orderkey")).cast("long").as("id"),
          props("totalprice" -> col("o_totalprice"),
            "status" -> col("o_orderstatus")).as("properties")), "id")),
          knownTypes = Some(Map("totalprice" -> "n", "status" -> "s")))
      },
      Future {
        // edges: nation -in-> region; customer -in-> nation (locids
        // are disjoint ranges: nationkey, then customerkey offset by
        // 100). Same label — the two appends stay ordered in one task.
        s.catalog.append(g, "in", nation.select(
          (inId + col("n_nationkey")).cast("long").as("id"),
          (nId + col("n_nationkey")).cast("long").as("start"),
          (rId + col("n_regionkey")).cast("long").as("end"),
          lit("{}").as("properties")), knownTypes = Some(Map.empty))
        s.catalog.append(g, "in", spread(customer.select(
          (inId + lit(100L) + col("c_custkey")).cast("long").as("id"),
          (cId + col("c_custkey")).cast("long").as("start"),
          (nId + col("c_nationkey")).cast("long").as("end"),
          lit("{}").as("properties")), "start"),
          knownTypes = Some(Map.empty))
      },
      Future {
        s.catalog.append(g, "placed", spread(orders.select(
          (plId + col("o_orderkey")).cast("long").as("id"),
          (cId + col("o_custkey")).cast("long").as("start"),
          (oId + col("o_orderkey")).cast("long").as("end"),
          lit("{}").as("properties")), "start"),
          knownTypes = Some(Map.empty))
      },
      Future {
        // supplier -ships-> part from lineitem: a MULTIgraph (parallel
        // edges per (supplier, part) pair — one per lineitem), which is
        // what makes allshortestpaths return multiple paths per pair
        s.catalog.append(g, "supplier", supplier.select(
          (sId + col("s_suppkey")).cast("long").as("id"),
          props("name" -> col("s_name")).as("properties")),
          knownTypes = Some(Map("name" -> "s")))
      },
      Future {
        s.catalog.append(g, "part", chk(spread(part.select(
          (pId + col("p_partkey")).cast("long").as("id"),
          props("name" -> col("p_name")).as("properties")), "id")),
          knownTypes = Some(Map("name" -> "s")))
      },
      Future {
        // locid = orderkey*8 + linenumber (linenumber <= 7) — unique
        s.catalog.append(g, "ships", chk(spread(lineitem.select(
          (shId + col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("id"),
          (sId + col("l_suppkey")).cast("long").as("start"),
          (pId + col("l_partkey")).cast("long").as("end"),
          props("qty" -> col("l_quantity")).as("properties")), "start")),
          knownTypes = Some(Map("qty" -> "n")))
      })
    tasks.foreach(Await.result(_, Duration.Inf))
    s
  }

  val queries: Map[String, Q] = Map(
    // MATCH pattern join + WHERE + implicit grouping (SURVEY §2.3
    // pattern join, §2.5 implicit Cypher grouping)
    "g01_match_agg" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:placed]->(o:order)
          |WHERE o.totalprice > 400000
          |RETURN c.mktsegment AS seg, count(*) AS n""".stripMargin)
        .select(J.asText(col("seg")).as("seg"), J.toLong(col("n")).as("n"))
        .orderBy("seg")
    },

    // 3-hop chain: order <- customer -> nation (join ordering +
    // edge-direction handling)
    "g02_chain_join" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (o:order)<-[:placed]-(c:customer)-[:in]->(n:nation)
          |WHERE o.totalprice > 450000
          |RETURN n.name AS nation, count(*) AS big_orders""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("big_orders")).as("big_orders"))
        .orderBy("nation")
    },

    // OPTIONAL MATCH (left join semantics over the graph)
    "g03_optional_match" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (n:nation) OPTIONAL MATCH (n)<-[:in]-(c:customer)
          |WHERE c.acctbal > 9000
          |RETURN n.name AS nation, count(c) AS rich""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("rich")).as("rich"))
        .orderBy("nation")
    },

    // VLE *2..2: customer -in-> nation -in-> region (variable-length
    // expansion, SURVEY §2.4)
    "g04_vle" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in*2..2]->(r:region)
          |RETURN r.name AS region, count(*) AS customers""".stripMargin)
        .select(J.asText(col("region")).as("region"),
          J.toLong(col("customers")).as("customers"))
        .orderBy("region")
    },

    // shortestpath inside MATCH (SURVEY §3.4): source-constrained BFS;
    // the in-graph is a customer->nation->region chain so the minimal
    // path per (customer, region) pair is the 2-hop — SQL-expressible
    "g07_shortestpath" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH p = shortestpath((c:customer {mktsegment: 'BUILDING'})-[:in*1..4]->(r:region))
          |RETURN r.name AS region, length(p) AS hops, count(*) AS n""".stripMargin)
        .select(J.asText(col("region")).as("region"),
          J.toLong(col("hops")).as("hops"), J.toLong(col("n")).as("n"))
        .orderBy("region")
    },

    // shortestpath in EXPRESSION position (cypher_shortestpath.sql:31):
    // unlike MATCH-position, rows with NO path survive with a NULL
    // path — length(NULL) is NULL, so customers outside the target
    // region keep their row with hops NULL, which the oracle's CASE
    // reproduces exactly
    "g39_spx_expr" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer), (r:region {name: 'ASIA'})
          |WHERE c.acctbal > 9900
          |RETURN c.name AS name,
          |  length(shortestpath((c)-[:in*..2]->(r))) AS hops""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.toLong(col("hops")).as("hops"))
        .orderBy("name")
    },

    // dijkstra inside MATCH (SURVEY §3.4, nodeDijkstra.c): cheapest
    // weighted path per (source, target) pair; on the chain graph the
    // unique path costs 2 with unit weights, so the relational oracle
    // can verify the operator end-to-end
    "g08_dijkstra" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH p = dijkstra((c:customer {mktsegment: 'BUILDING'})-[e:in]->(r:region), 1)
          |RETURN r.name AS region, length(p) AS hops, count(*) AS n""".stripMargin)
        .select(J.asText(col("region")).as("region"),
          J.toLong(col("hops")).as("hops"), J.toLong(col("n")).as("n"))
        .orderBy("region")
    },

    // Cypher aggregates over jsonb numerics (exact decimal sum)
    "g05_jsonb_agg" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |RETURN n.name AS nation, max(c.acctbal) AS max_bal,
          |       count(*) AS n_cust""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toDouble(col("max_bal")).as("max_bal"),
          J.toLong(col("n_cust")).as("n_cust"))
        .orderBy("nation")
    },

    // stdev/stdevp Cypher aggregates (cypher_expr.c stdev transfer fns)
    // — sample/population stddev over a jsonb numeric property; 9-sig-
    // digit float compare against DuckDB stddev_samp/stddev_pop
    "g38_stdev" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |RETURN n.name AS nation, stdev(c.acctbal) AS sd,
          |       stdevp(c.acctbal) AS sdp""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toDouble(col("sd")).as("sd"), J.toDouble(col("sdp")).as("sdp"))
        .orderBy("nation")
    },

    // Statement-level Cypher UNION (gram.y:17089-17095 makeCypherSetOp):
    // set-op DISTINCT dedupes by jsonb equality across the two MATCH
    // statements' results
    "g09_cypher_union" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation {name: 'NATION_7'}) RETURN c.name AS name
          |UNION
          |MATCH (c:customer) WHERE c.acctbal > 9900 RETURN c.name AS name""".stripMargin)
        .select(J.asText(col("name")).as("name"))
        .orderBy("name")
    },

    // SQL <-> Cypher hybrid (SURVEY §3.3, gram.y:12369-12399): a MATCH
    // block in FROM substitutes as a view and joins against ordinary
    // relational tables in the same SQL statement
    "g10_sql_interop" -> { (sp, d) =>
      val s = session(sp, d)
      Tables.registerAll(sp, d)
      s.sql(
        """SELECT trim(BOTH '"' FROM jt.gnation) AS nation, count(*) AS n_sup
          |FROM (MATCH (x:nation) RETURN x.name AS gnation) jt
          |JOIN nation ON concat('"', n_name, '"') = jt.gnation
          |JOIN supplier ON s_nationkey = n_nationkey
          |GROUP BY jt.gnation ORDER BY nation""".stripMargin)
    },

    // Graph write surface through the oracle gate (SURVEY §2.9 MERGE,
    // execCypherMerge.c): idempotent match-or-create of a derived vip
    // label from a MATCH, then read it back. MERGE dedups within the
    // batch and re-matches on re-run, so bench's cold+steady passes
    // converge to the same graph; the oracle is the INSERT..SELECT
    // count the write implies.
    "g11_merge_write" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("vip", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9500
          |MERGE (v:vip {name: c.name, nation: n.name})""".stripMargin)
      s.cypher(
        "MATCH (v:vip) RETURN v.nation AS nation, count(*) AS n_vip")
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_vip")).as("n_vip"))
        .orderBy("nation")
    },

    // Undirected edge traversal (genEdgeUnion parse_graph.c:178,
    // 1970-2225): (n)-[:in]-(x) scans both orientations — the region
    // side (outgoing) and the customer side (incoming) union into one
    // edge relation before the pattern join.
    "g12_undirected" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (n:nation)-[:in]-(x)
          |RETURN n.name AS nation, count(*) AS degree""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("degree")).as("degree"))
        .orderBy("nation")
    },

    // Pattern-predicate NOT EXISTS as a WHERE qual (cypher_dml2 SIZE/
    // EXISTS section): compiles to an anti-join — customers with no
    // placed order, the graph twin of relational q07.
    "g13_exists_pattern" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE NOT exists((c)-[:placed]->(:order {status: 'P'}))
          |RETURN n.name AS nation, count(*) AS n_no_pending""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_no_pending")).as("n_no_pending"))
        .orderBy("nation")
    },

    // VLE depth union *1..2 with heterogeneous endpoints classified by
    // label() (graph.c:460 vertex_label): depth 1 lands on nation,
    // depth 2 on region — the depth-union output carries both.
    "g14_vle_label" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in*1..2]->(x)
          |RETURN label(x) AS lab, count(*) AS n""".stripMargin)
        .select(J.asText(col("lab")).as("lab"), J.toLong(col("n")).as("n"))
        .orderBy("lab")
    },

    // allshortestpaths (parse_shortestpath.c:84-100 SHORTESTPATH_ALL):
    // on the supplier->part multigraph every parallel edge is its own
    // length-1 shortest path, so the path count per pair equals the
    // lineitem multiplicity — SQL-checkable, and it exercises the
    // keepAll search path (no per-pair dedup) end to end.
    "g16_allshortest" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH p = allshortestpaths((s:supplier {name: 'Supplier#000000001'})-[:ships*1..2]->(t:part))
          |RETURN s.name AS sup, count(*) AS n_paths,
          |       count(DISTINCT t.name) AS n_parts""".stripMargin)
        .select(J.asText(col("sup")).as("sup"),
          J.toLong(col("n_paths")).as("n_paths"),
          J.toLong(col("n_parts")).as("n_parts"))
        .orderBy("sup")
    },

    // LOAD FROM (SURVEY §2.1, gram.y:19156-19170): a plain Spark/SQL
    // table enters the Cypher pipeline as a whole-row jsonb var and
    // joins against graph vertices via a computed property expression
    // (string concat + toString over jsonb).
    "g15_load_from" -> { (sp, d) =>
      val s = session(sp, d)
      Tables.registerAll(sp, d)
      s.cypher(
        """LOAD FROM supplier AS sr
          |MATCH (n:nation)
          |WHERE n.name = 'NATION_' + toString(sr.s_nationkey)
          |RETURN n.name AS nation, count(*) AS n_sup""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_sup")).as("n_sup"))
        .orderBy("nation")
    },

    // SET property write through the oracle gate (SURVEY §2.9 SET,
    // execCypherSet.c): MERGE a derived label, then a jsonb-arithmetic
    // SET (v.bal * 2 — jsonb_mul) over every matched vertex, then read
    // back an exact-decimal sum of the written property. Re-runs MERGE
    // to the same vertices and SET to the same values, so bench's
    // cold+steady passes converge.
    "g17_set_write" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("vipx", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9800
          |MERGE (v:vipx {name: c.name, nation: n.name, bal: c.acctbal})""".stripMargin)
      s.cypher("MATCH (v:vipx) SET v.dbal = v.bal * 2")
      s.cypher(
        """MATCH (v:vipx)
          |RETURN v.nation AS nation, count(*) AS n, sum(v.dbal) AS tot""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n")).as("n"),
          round(J.toDouble(col("tot")), 2).as("tot"))
        .orderBy("nation")
    },

    // DELETE write through the oracle gate (SURVEY §2.9 DELETE,
    // execCypherDelete.c): MERGE a scratch label, delete the matched
    // subset (jsonb predicate victims -> anti-join rewrite), read back
    // the survivors. Idempotent across runs: the MERGE re-creates what
    // the previous run deleted, the DELETE removes it again.
    "g18_delete_write" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("scr", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9000
          |MERGE (v:scr {name: c.name, nation: n.name, bal: c.acctbal})""".stripMargin)
      s.cypher("MATCH (v:scr) WHERE v.bal < 9500 DELETE v")
      s.cypher(
        "MATCH (v:scr) RETURN v.nation AS nation, count(*) AS n")
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n")).as("n"))
        .orderBy("nation")
    },

    // dijkstra top-k (LIMIT 2, gram.y:18548-18623 / nodeDijkstra.c
    // pairing-heap top-k): on the supplier->part MULTIgraph the 2
    // cheapest of the parallel edges per pair survive — the per-pair
    // count and weight sum are tie-insensitive (sum of the 2 smallest
    // qty values), so SQL can check the weighted top-k search exactly.
    "g19_dijkstra_topk" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH p = dijkstra((s:supplier {name: 'Supplier#000000001'})-[e:ships]->(t:part), e.qty LIMIT 2)
          |RETURN t.name AS part, count(*) AS n_paths, sum(head(e).qty) AS qty2""".stripMargin)
        .select(J.asText(col("part")).as("part"),
          J.toLong(col("n_paths")).as("n_paths"),
          round(J.toDouble(col("qty2")), 2).as("qty2"))
        .orderBy("part")
    },

    // graphpath value surface (ag_graphpath.h, graphpath_vertices/
    // length graph.c:909-933): a bound path variable over a VLE carries
    // the vertex array; depth 1 lands on nation (2 vertices), depth 2
    // on region (3 vertices).
    "g20_path_funcs" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH p = (c:customer)-[:in*1..2]->(x)
          |RETURN length(p) AS hops, size(nodes(p)) AS nv, count(*) AS n""".stripMargin)
        .select(J.toLong(col("hops")).as("hops"),
          J.toLong(col("nv")).as("nv"), J.toLong(col("n")).as("n"))
        .orderBy("hops")
    },

    // collect() -> UNWIND round-trip (jsonb_agg + explode, SURVEY §2.5
    // collect / §2.9 UNWIND): the list aggregate and its inverse
    // compose in one pipeline; exact-decimal sum of the re-exploded
    // elements equals the direct aggregate.
    "g21_unwind_collect" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WITH n, collect(c.acctbal) AS bals
          |UNWIND bals AS b
          |RETURN n.name AS nation, count(*) AS n_vals, sum(b) AS tot""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_vals")).as("n_vals"),
          round(J.toDouble(col("tot")), 2).as("tot"))
        .orderBy("nation")
    },

    // REMOVE property write (SURVEY §2.9 SET/REMOVE, gram.y:19034-19107
    // / execCypherSet.c): SET a key on every vertex, REMOVE it from a
    // matched subset, read back the split via IS NULL (jsonb key absent
    // -> SQL NULL). Idempotent: re-runs SET then REMOVE the same keys.
    "g22_remove_write" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("rmx", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9700
          |MERGE (v:rmx {name: c.name, nation: n.name, bal: c.acctbal})""".stripMargin)
      s.cypher("MATCH (v:rmx) SET v.flag = 1")
      s.cypher("MATCH (v:rmx) WHERE v.bal < 9850 REMOVE v.flag")
      s.cypher(
        """MATCH (v:rmx)
          |RETURN v.nation AS nation, count(v.flag) AS n_flagged,
          |       count(*) AS n_total""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_flagged")).as("n_flagged"),
          J.toLong(col("n_total")).as("n_total"))
        .orderBy("nation")
    },

    // List comprehension over a collected list ([x IN xs WHERE p | f]
    // — CypherListComp parsenodes.h:3819-3827): filter + transform in
    // jsonb space, then re-aggregate the element count and sum.
    "g23_list_comprehension" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WITH n, collect(c.acctbal) AS bals
          |WITH n, [b IN bals WHERE b > 5000 | b * 2] AS big2
          |UNWIND big2 AS b2
          |RETURN n.name AS nation, count(*) AS n_big, sum(b2) AS tot2""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_big")).as("n_big"),
          round(J.toDouble(col("tot2")), 2).as("tot2"))
        .orderBy("nation")
    },

    // Parameterized query ($param — the prepared-statement surface,
    // cypher_dml.sql prepared section): the parameter enters jsonb
    // space and compares against properties like any literal.
    "g24_parameters" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > $minbal AND n.name = $nat
          |RETURN n.name AS nation, count(*) AS n""".stripMargin,
        Map("minbal" -> 8000, "nat" -> "NATION_3"))
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n")).as("n"))
        .orderBy("nation")
    },

    // Label inheritance through the oracle gate (ag_label DAG,
    // graphcmds.c GetSuperOids; subtree scan = PG inheritance Append):
    // a child label's members surface in the parent's subtree scan,
    // classified by their concrete label(). The child vertices carry
    // no acctbal/edges, so every other query's quals exclude them.
    "g25_inheritance" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("bigcust", parents = Seq("customer"), ifNotExists = true)
      s.cypher(
        """MATCH (c:customer) WHERE c.acctbal > 9900
          |MERGE (b:bigcust {name: 'BIG_' + c.name})""".stripMargin)
      s.cypher(
        "MATCH (x:customer) RETURN label(x) AS lab, count(*) AS n")
        .select(J.asText(col("lab")).as("lab"), J.toLong(col("n")).as("n"))
        .orderBy("lab")
    },

    // get_last_graph_write_stats() (cypher_funcs.c:1185) through the
    // oracle gate: a fresh label is dropped+recreated per run so the
    // CREATE's counters are deterministic, then the stats row itself
    // is the query result.
    "g26_write_stats" -> { (sp, d) =>
      val s = session(sp, d)
      try s.catalog.dropLabel("tpch", "wst") catch { case _: Exception => () }
      s.createVLabel("wst")
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9900
          |CREATE (:wst {name: c.name})""".stripMargin)
      val st = s.lastWriteStats
      val sp2 = sp
      import sp2.implicits._
      Seq((st("insertedvertices"), st("insertededges"),
        st("deletedvertices")))
        .toDF("ins_v", "ins_e", "del_v")
    },

    // ag_graphmeta edge-statistics matrix (ag_graphmeta.h:30-37)
    // through the oracle gate: per (start label, edge label, end label)
    // edge counts over the whole graph, pinned to the stable bulk-load
    // labels so write demos can't disturb it.
    "g27_graphmeta" -> { (sp, d) =>
      val s = session(sp, d)
      s.catalog.graphmeta("tpch")
        .where(col("edge").isin("in", "placed", "ships"))
        .orderBy("start", "edge", "end")
    },

    // endnode() on an edge with UNBOUND target (edge_end_vertex
    // graph.c:1002): the projection rewrite adds a hidden vertex
    // re-fetch join keyed on e.end — the reference re-fetches the
    // vertex by graphid the same way.
    "g28_endpoints" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[e:in]->(:nation)
          |RETURN endnode(e).name AS nation, count(*) AS n""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n")).as("n"))
        .orderBy("nation")
    },

    // Correlated EXISTS (MATCH ...) sublink in SQL (SURVEY §3.3,
    // gram.y:14110-14125): the correlated conjunct (c.acctbal > t.thr)
    // lifts out of the Cypher WHERE, the graph operand becomes a hidden
    // view column, and Catalyst decorrelates the rewritten EXISTS. The
    // outer threshold uses floor() (not a bigint CAST — Spark truncates
    // where DuckDB rounds) so both engines derive identical integers.
    "g29_sql_exists_correlated" -> { (sp, d) =>
      val s = session(sp, d)
      Tables.registerAll(sp, d)
      s.sql(
        """SELECT count(*) AS n_orders FROM
          |  (SELECT CAST(floor(o_totalprice / 50) AS BIGINT) AS thr
          |   FROM orders WHERE o_totalprice > 400000) t
          |WHERE EXISTS (MATCH (c:customer)
          |  WHERE c.acctbal > t.thr AND c.mktsegment = 'BUILDING' RETURN c)""".stripMargin)
    },

    // EDGE MERGE between bound endpoints (execCypherMerge.c over a
    // relationship pattern): match-or-create a derived edge label,
    // keyed on the pre-bound endpoint ids; idempotent on re-run (all
    // edges match). Read-back traverses the merged edges.
    "g30_merge_edge" -> { (sp, d) =>
      val s = session(sp, d)
      s.createELabel("bigbuyer", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:placed]->(o:order)
          |WHERE o.totalprice > 450000
          |MERGE (c)-[:bigbuyer]->(o)""".stripMargin)
      s.cypher(
        """MATCH (c:customer)-[:bigbuyer]->(o:order)
          |RETURN count(*) AS n_edges,
          |       count(DISTINCT c.name) AS n_buyers""".stripMargin)
        .select(J.toLong(col("n_edges")).as("n_edges"),
          J.toLong(col("n_buyers")).as("n_buyers"))
    },

    // Multi-type edge pattern [:in|placed] + type() classification
    // (getEdgeColname/edge union parse_graph.c; edge_label graph.c:628):
    // one scan per listed label unions before the pattern join, type()
    // recovers the concrete label from the packed id.
    "g31_edge_types" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[e:in|placed]->(x)
          |RETURN type(e) AS et, count(*) AS n""".stripMargin)
        .select(J.asText(col("et")).as("et"), J.toLong(col("n")).as("n"))
        .orderBy("et")
    },

    // DETACH DELETE cascade through the oracle gate (execCypherDelete.c
    // ExecDeleteGraphElement — incident edges die with the vertex):
    // scratch vertices + same-nation ordered edges, detach-delete the
    // low-balance subset, count surviving edges (= pairs whose BOTH
    // endpoints survive). The MERGEs recreate the deleted subgraph on
    // re-run, so the read-back is stable.
    "g32_detach_delete" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("scrv", ifNotExists = true)
      s.createELabel("scre", ifNotExists = true)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE c.acctbal > 9800
          |MERGE (v:scrv {name: c.name, nation: n.name, bal: c.acctbal})""".stripMargin)
      s.cypher(
        """MATCH (x:scrv), (y:scrv)
          |WHERE x.nation = y.nation AND x.bal > y.bal
          |MERGE (x)-[:scre]->(y)""".stripMargin)
      s.cypher("MATCH (v:scrv) WHERE v.bal < 9900 DETACH DELETE v")
      s.cypher(
        """MATCH (:scrv)-[e:scre]->(:scrv)
          |RETURN count(*) AS n_edges""".stripMargin)
        .select(J.toLong(col("n_edges")).as("n_edges"))
    },

    // Fetch-by-graphid (TidScan analog, SURVEY §2.1; graphid packing
    // utils/graph.h:28-39): the packed id enters as a parameter and
    // resolves one vertex — id() equality in jsonb space.
    "g33_id_lookup" -> { (sp, d) =>
      val s = session(sp, d)
      val lid = labid(s, "customer")
      s.cypher(
        "MATCH (c:customer) WHERE id(c) = $cid RETURN c.name AS name, c.acctbal AS bal",
        Map("cid" -> GraphId.pack(lid, 42L)))
        .select(J.asText(col("name")).as("name"),
          J.toDouble(col("bal")).as("bal"))
    },

    // Zero-length VLE (*0..1 — isZeroLengthVLE parse_graph.c:198,
    // 2388-2404): depth 0 binds the origin itself with empty arrays,
    // depth 1 traverses — label() classifies the depth union.
    "g34_vle_zero" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (n:nation)-[:in*0..1]->(x)
          |RETURN label(x) AS lab, count(*) AS n""".stripMargin)
        .select(J.asText(col("lab")).as("lab"), J.toLong(col("n")).as("n"))
        .orderBy("lab")
    },

    // WITH ... WHERE over an aggregate (the HAVING shape of
    // transformCypherProjection, parse_graph.c:441-627) + SKIP/LIMIT
    // pagination on the final ordered RETURN.
    "g35_with_having" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:placed]->(o:order)
          |WITH c, count(*) AS n_ord WHERE n_ord >= 15
          |RETURN c.name AS name, n_ord
          |ORDER BY n_ord DESC, name SKIP 5 LIMIT 10""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.toLong(col("n_ord")).as("n_ord"))
    },

    // UNWIND + WITH + ORDER/LIMIT pipeline over graph data
    "g06_with_topk" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:placed]->(o:order)
          |WITH c, count(*) AS n_orders
          |RETURN c.name AS name, n_orders ORDER BY n_orders DESC, name LIMIT 10""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.toLong(col("n_orders")).as("n_orders"))
    },

    // MERGE ... ON CREATE SET / ON MATCH SET (execCypherMerge.c:35,
    // gram.y:19130-19152): ON CREATE SET applies to the created
    // elements before their append, ON MATCH SET patches the matched
    // rows only (the branch each row came from routes it). Two
    // passes make both branches deterministic regardless of re-runs:
    // pass 1 creates (first run) or resets (re-runs) so the post-pass-1
    // state is identical either way; pass 2 always matches. Final
    // state: created=1 (ON CREATE, first run only), hits=1 + flag='m'
    // (ON MATCH, every run) — idempotent across bench's repeat passes.
    "g36_merge_on_set" -> { (sp, d) =>
      val s = session(sp, d)
      s.createVLabel("mtrack", ifNotExists = true)
      s.cypher(
        """MATCH (n:nation)
          |MERGE (t:mtrack {name: n.name})
          |ON CREATE SET t.created = 1, t.hits = 0
          |ON MATCH SET t.hits = 0, t.flag = 'r'""".stripMargin)
      s.cypher(
        """MATCH (n:nation)
          |MERGE (t:mtrack {name: n.name})
          |ON CREATE SET t.created = 99
          |ON MATCH SET t.hits = 1, t.flag = 'm'""".stripMargin)
      s.cypher(
        """MATCH (t:mtrack)
          |RETURN t.name AS name, t.created AS created,
          |       t.hits AS hits, t.flag AS flag""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.toLong(col("created")).as("created"),
          J.toLong(col("hits")).as("hits"),
          J.asText(col("flag")).as("flag"))
        .orderBy("name")
    },

    // Scalar SQL subquery as a Cypher primary expression — inside a
    // MERGE property map AND an ON SET value (parse_cypher_expr.c
    // sublink; cypher_dml.sql:50-52 `{year: (SELECT year FROM
    // history ...)}`): the relational world parameterizes graph
    // writes. Uncorrelated sublinks fold to literals (driver gets one
    // scalar; the subquery itself runs distributed). Idempotent: the
    // subquery values are stable, so re-MERGE matches.
    "g37_sql_subquery_prop" -> { (sp, d) =>
      val s = session(sp, d)
      Tables.registerAll(sp, d)
      s.createVLabel("meta", ifNotExists = true)
      s.cypher(
        """MERGE (m:meta {name: 'corpus', n_parts: (SELECT count(*) FROM part)})
          |ON CREATE SET m.top_nation = (SELECT max(n_name) FROM nation)
          |ON MATCH SET m.top_nation = (SELECT max(n_name) FROM nation)""".stripMargin)
      s.cypher(
        """MATCH (m:meta {name: 'corpus'})
          |RETURN m.name AS name, m.n_parts AS n_parts,
          |       m.top_nation AS top_nation""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.toLong(col("n_parts")).as("n_parts"),
          J.asText(col("top_nation")).as("top_nation"))
        .orderBy("name")
    },

    // Cypher invoking a session-registered UDF (§2.11 — the
    // cypher_plpgsql.sql interop direction: any function the session
    // registry resolves is callable from a Cypher expression, the way
    // any pg_proc entry is callable in the reference). Arguments cross
    // from jsonb to the UDF's declared Scala types via astext +
    // Catalyst's implicit input casts; the result folds back to jsonb.
    // The oracle replicates the UDF body in plain SQL.
    "g40_udf_interop" -> { (sp, d) =>
      val s = session(sp, d)
      sp.udf.register("vip_tag",
        (nm: String, bal: Double) => if (bal >= 9950.0) nm.toLowerCase else nm)
      s.cypher(
        """MATCH (c:customer) WHERE c.acctbal > 9900
          |RETURN c.name AS name, vip_tag(c.name, c.acctbal) AS tag""".stripMargin)
        .select(J.asText(col("name")).as("name"),
          J.asText(col("tag")).as("tag"))
        .orderBy("name")
    },

    // Diamond pattern with a REVERSE hop in the chain + graphid
    // ordering + a NEGATIVE pattern predicate over a bound variable —
    // the friend-of-friend query shape: pairs of customers co-located
    // in a nation where the first has never placed an order. id(a) <
    // id(b) halves the pairs at graphid level (same label ⇒ packed-id
    // order = key order); NOT exists((a)-[:placed]->()) decorrelates
    // through the row-tagged pattern-predicate machinery.
    "g41_foaf_pattern" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (a:customer)-[:in]->(n:nation)<-[:in]-(b:customer)
          |WHERE id(a) < id(b)
          |  AND NOT exists((a)-[:placed]->({status: 'F'}))
          |RETURN n.name AS nation, count(*) AS n_pairs""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_pairs")).as("n_pairs"))
        .orderBy("nation")
    },

    // size() pattern predicate through the KEY-correlated path (the
    // g41 fix's counting twin): the per-customer order multiplicity
    // evaluates once per distinct customer id and joins back — no row
    // tag, no checkpoint barrier (ExplainSpec g41 asserts the shape).
    "g42_size_pattern" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE size((c)-[:placed]->()) >= 15
          |RETURN n.name AS nation, count(*) AS n_heavy""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_heavy")).as("n_heavy"))
        .orderBy("nation")
    },

    // SQL/JSON path predicates in Cypher WHERE with the typed shred
    // pushdown (§2.2/§2.8): the exists range filter pushes BOTH
    // `__pn_acctbal` bounds and the match pushes a `__ps_mktsegment`
    // prefix — all three reach the parquet scan as row-group-prunable
    // comparisons (ExplainSpec pins the plan shape; this row pins the
    // VALUES against the oracle's plain-column recomputation).
    "g43_jsonpath_pushdown" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE jsonb_path_exists(properties(c),
          |    '$.acctbal ? (@ > 9000 && @ <= 9900)')
          |  AND jsonb_path_match(properties(c),
          |    '$.mktsegment starts with "B"')
          |RETURN n.name AS nation, count(*) AS n_match""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_match")).as("n_match"))
        .orderBy("nation")
    },

    // String RANGE comparisons on the raw-string shred (§2.2/§2.8):
    // jsonpath string compare is codepoint collation (jsonpath_exec.c
    // compareStrings — per-byte UTF-8), which equals the parquet
    // binary min/max order of `__ps_<key>`, so the exists range pushes
    // BOTH `__ps_mktsegment` bounds and the native `c.name >=` pushes
    // a `__ps_name` bound (the engine's jsonb string order is the same
    // codepoint order — Jsonb.codepointCmp). ExplainSpec pins the plan
    // shape; this row pins the VALUES against plain-column SQL.
    "g44_string_range_pushdown" -> { (sp, d) =>
      val s = session(sp, d)
      s.cypher(
        """MATCH (c:customer)-[:in]->(n:nation)
          |WHERE jsonb_path_exists(properties(c),
          |    '$.mktsegment ? (@ >= "B" && @ < "H")')
          |  AND c.name >= 'Customer#000000100'
          |  AND jsonb_path_match(properties(c),
          |    '$.name < "Customer#000000900"')
          |RETURN n.name AS nation, count(*) AS n_match""".stripMargin)
        .select(J.asText(col("nation")).as("nation"),
          J.toLong(col("n_match")).as("n_match"))
        .orderBy("nation")
    }
  )

  val oracleSql: Map[String, String] = Map(
    "g01_match_agg" ->
      """SELECT c_mktsegment AS seg, count(*) AS n
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000
        |GROUP BY 1 ORDER BY seg""".stripMargin,
    "g02_chain_join" ->
      """SELECT n_name AS nation, count(*) AS big_orders
        |FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice > 450000
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g03_optional_match" ->
      """SELECT n_name AS nation, count(c_custkey) AS rich
        |FROM nation LEFT JOIN customer
        |  ON c_nationkey = n_nationkey AND c_acctbal > 9000
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g04_vle" ->
      """SELECT r_name AS region, count(*) AS customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY region""".stripMargin,
    "g07_shortestpath" ->
      """SELECT r_name AS region, CAST(2 AS BIGINT) AS hops, count(*) AS n
        |FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY region""".stripMargin,
    "g39_spx_expr" ->
      """SELECT c_name AS name,
        |  CASE WHEN r_name = 'ASIA' THEN CAST(2 AS BIGINT) END AS hops
        |FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE c_acctbal > 9900 ORDER BY name""".stripMargin,
    "g08_dijkstra" ->
      """SELECT r_name AS region, CAST(2 AS BIGINT) AS hops, count(*) AS n
        |FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY region""".stripMargin,
    "g05_jsonb_agg" ->
      """SELECT n_name AS nation, max(c_acctbal) AS max_bal,
        |  count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g38_stdev" ->
      """SELECT n_name AS nation, stddev_samp(c_acctbal) AS sd,
        |  stddev_pop(c_acctbal) AS sdp
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g06_with_topk" ->
      """SELECT c_name AS name, count(*) AS n_orders
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY n_orders DESC, name LIMIT 10""".stripMargin,
    "g09_cypher_union" ->
      """SELECT c_name AS name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7'
        |UNION
        |SELECT c_name FROM customer WHERE c_acctbal > 9900
        |ORDER BY name""".stripMargin,
    "g10_sql_interop" ->
      """SELECT n_name AS nation, count(*) AS n_sup
        |FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g11_merge_write" ->
      """SELECT n_name AS nation, count(*) AS n_vip
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9500
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g36_merge_on_set" ->
      """SELECT n_name AS name, CAST(1 AS BIGINT) AS created,
        |  CAST(1 AS BIGINT) AS hits, 'm' AS flag
        |FROM nation ORDER BY name""".stripMargin,
    "g37_sql_subquery_prop" ->
      """SELECT 'corpus' AS name,
        |  (SELECT count(*) FROM part) AS n_parts,
        |  (SELECT max(n_name) FROM nation) AS top_nation""".stripMargin,
    "g41_foaf_pattern" ->
      """SELECT n_name AS nation, count(*) AS n_pairs
        |FROM customer a
        |JOIN customer b ON a.c_nationkey = b.c_nationkey
        |  AND a.c_custkey < b.c_custkey
        |JOIN nation ON n_nationkey = a.c_nationkey
        |WHERE a.c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "g42_size_pattern" ->
      """SELECT n_name AS nation, count(*) AS n_heavy
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE (SELECT count(*) FROM orders
        |       WHERE o_custkey = c_custkey) >= 15
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "g43_jsonpath_pushdown" ->
      """SELECT n_name AS nation, count(*) AS n_match
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9000 AND c_acctbal <= 9900
        |  AND c_mktsegment LIKE 'B%'
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g44_string_range_pushdown" ->
      """SELECT n_name AS nation, count(*) AS n_match
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment >= 'B' AND c_mktsegment < 'H'
        |  AND c_name >= 'Customer#000000100'
        |  AND c_name < 'Customer#000000900'
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g40_udf_interop" ->
      """SELECT c_name AS name,
        |  CASE WHEN c_acctbal >= 9950 THEN lower(c_name)
        |       ELSE c_name END AS tag
        |FROM customer WHERE c_acctbal > 9900 ORDER BY name""".stripMargin,
    "g12_undirected" ->
      """SELECT nation, count(*) AS degree FROM (
        |  SELECT n_name AS nation FROM nation
        |  UNION ALL
        |  SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
        |) t GROUP BY 1 ORDER BY nation""".stripMargin,
    "g13_exists_pattern" ->
      """SELECT n_name AS nation, count(*) AS n_no_pending
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g14_vle_label" ->
      """SELECT lab, count(*) AS n FROM (
        |  SELECT 'nation' AS lab FROM customer
        |  UNION ALL SELECT 'region' FROM customer
        |) t GROUP BY 1 ORDER BY lab""".stripMargin,
    "g15_load_from" ->
      """SELECT n_name AS nation, count(*) AS n_sup
        |FROM nation JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g17_set_write" ->
      """SELECT n_name AS nation, count(*) AS n,
        |  round(CAST(sum(CAST(c_acctbal * 2 AS DECIMAL(28,2))) AS DOUBLE), 2) AS tot
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9800
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g18_delete_write" ->
      """SELECT n_name AS nation, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal >= 9500
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g19_dijkstra_topk" ->
      """WITH pool AS (
        |  SELECT l_partkey, l_quantity,
        |    row_number() OVER (PARTITION BY l_partkey ORDER BY l_quantity) AS rn
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_name = 'Supplier#000000001')
        |SELECT p_name AS part, count(*) AS n_paths,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE), 2) AS qty2
        |FROM pool JOIN part ON p_partkey = l_partkey
        |WHERE rn <= 2
        |GROUP BY 1 ORDER BY part""".stripMargin,
    "g35_with_having" ->
      """SELECT c_name AS name, count(*) AS n_ord
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_name HAVING count(*) >= 15
        |ORDER BY n_ord DESC, name OFFSET 5 LIMIT 10""".stripMargin,
    "g33_id_lookup" ->
      """SELECT c_name AS name, CAST(c_acctbal AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey = 42""".stripMargin,
    "g34_vle_zero" ->
      """SELECT lab, n FROM (
        |  SELECT 'nation' AS lab, count(*) AS n FROM nation
        |  UNION ALL
        |  SELECT 'region', count(*) FROM nation
        |) t ORDER BY lab""".stripMargin,
    "g32_detach_delete" ->
      """SELECT count(*) AS n_edges
        |FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey
        |WHERE a.c_acctbal >= 9900 AND b.c_acctbal >= 9900
        |  AND a.c_acctbal > b.c_acctbal""".stripMargin,
    "g30_merge_edge" ->
      """SELECT count(*) AS n_edges, count(DISTINCT c_name) AS n_buyers
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_totalprice > 450000""".stripMargin,
    "g31_edge_types" ->
      """SELECT et, n FROM (
        |  SELECT 'in' AS et, count(*) AS n FROM customer
        |  UNION ALL
        |  SELECT 'placed', count(*) FROM orders
        |) t ORDER BY et""".stripMargin,
    "g29_sql_exists_correlated" ->
      """SELECT count(*) AS n_orders FROM
        |  (SELECT CAST(floor(o_totalprice / 50) AS BIGINT) AS thr
        |   FROM orders WHERE o_totalprice > 400000) t
        |WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_acctbal > thr AND c_mktsegment = 'BUILDING')""".stripMargin,
    "g28_endpoints" ->
      """SELECT n_name AS nation, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g26_write_stats" ->
      """SELECT count(*) AS ins_v, CAST(0 AS BIGINT) AS ins_e,
        |  CAST(0 AS BIGINT) AS del_v
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9900""".stripMargin,
    "g27_graphmeta" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS start, 'in' AS edge, 'region' AS "end",
        |    count(*) AS edgecount FROM nation
        |  UNION ALL
        |  SELECT 'customer', 'in', 'nation', count(*) FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'placed', 'order', count(*) FROM orders
        |  UNION ALL
        |  SELECT 'supplier', 'ships', 'part', count(*) FROM lineitem
        |) t ORDER BY start, edge, "end"""".stripMargin,
    "g25_inheritance" ->
      """SELECT 'bigcust' AS lab, count(*) AS n FROM customer
        |WHERE c_acctbal > 9900
        |UNION ALL
        |SELECT 'customer', count(*) FROM customer
        |ORDER BY lab""".stripMargin,
    "g23_list_comprehension" ->
      """SELECT n_name AS nation, count(*) AS n_big,
        |  round(CAST(sum(CAST(c_acctbal * 2 AS DECIMAL(28,2))) AS DOUBLE), 2)
        |    AS tot2
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 5000
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g24_parameters" ->
      """SELECT n_name AS nation, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 8000 AND n_name = 'NATION_3'
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g21_unwind_collect" ->
      """SELECT n_name AS nation, count(*) AS n_vals,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE), 2) AS tot
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g22_remove_write" ->
      """SELECT n_name AS nation,
        |  CAST(sum(CASE WHEN c_acctbal >= 9850 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  count(*) AS n_total
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 9700
        |GROUP BY 1 ORDER BY nation""".stripMargin,
    "g20_path_funcs" ->
      """SELECT CAST(1 AS BIGINT) AS hops, CAST(2 AS BIGINT) AS nv,
        |  count(*) AS n FROM customer
        |UNION ALL
        |SELECT 2, 3, count(*) FROM customer
        |ORDER BY hops""".stripMargin,
    "g16_allshortest" ->
      """SELECT s_name AS sup, count(*) AS n_paths,
        |  count(DISTINCT p_name) AS n_parts
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |WHERE s_name = 'Supplier#000000001'
        |GROUP BY 1 ORDER BY sup""".stripMargin
  )
}
