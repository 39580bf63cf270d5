package graphbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.CypherSession
import graft.expr.JsonbNormalize
import graft.graph.{GraphCatalog, GraphId}

/** Bulk load of the raw tables into the `tpch` property graph:
  * region <-in- nation <-in- customer -placed-> order, and the
  * supplier -ships-> part multigraph (one edge per lineitem). The same
  * shape the engine's own graph queries use, through the public catalog
  * calls only (`createGraph`, `createVLabel`, `GraphCatalog.append`).
  * Customers also carry their key as `ck`, which the write templates
  * use to address exact row ranges. `item` and `of` are the labels the
  * write workload creates into and deletes from.
  *
  * region, nation, customer and `in` are always loaded; the order and
  * the ships parts only for a workload that reads them, so no run pays
  * set-up time for labels it never touches.
  */
object Graph {
  val name = "tpch"

  sealed trait Part
  case object Orders extends Part // order, placed
  case object Ships extends Part // supplier, part, ships

  def load(spark: SparkSession, rawDir: String, graphDir: String, parts: Set[Part]): CypherSession = {
    val s = new CypherSession(spark, new GraphCatalog(spark, graphDir))
    s.createGraph(name)
    Seq("region", "nation", "customer", "order", "supplier", "part", "item")
      .foreach(l => s.createVLabel(l))
    Seq("in", "placed", "ships", "of").foreach(l => s.createELabel(l))

    def base(label: String): Column =
      lit(GraphId.pack(s.catalog.label(name, label).get.labid, 0L))
    def props(cols: (String, Column)*): Column =
      JsonbNormalize.normalize(to_json(struct(cols.map { case (n, c) => c.as(n) }: _*)))
    def raw(t: String): DataFrame = spark.read.parquet(s"$rawDir/$t.parquet")
    // append scans its input twice (shred-type inference, then the
    // write); the jsonb rendering is the costly part, so big inputs
    // are checkpointed once first
    def chk(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def append(label: String, df: DataFrame, types: (String, String)*): Unit =
      s.catalog.append(name, label, df, knownTypes = Some(types.toMap))

    val region = raw("region"); val nation = raw("nation")
    val customer = raw("customer"); val orders = raw("orders")
    val supplier = raw("supplier"); val part = raw("part")
    val lineitem = raw("lineitem")
    val (rId, nId, cId, oId) = (base("region"), base("nation"), base("customer"), base("order"))
    val (sId, pId) = (base("supplier"), base("part"))
    val (inId, plId, shId) = (base("in"), base("placed"), base("ships"))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // one future per label: labels write to separate directories, so
    // the loads overlap (the catalog guards its own metadata)
    val always = Seq(
      Future(append("region", region.select((rId + col("r_regionkey")).as("id"),
        props("name" -> col("r_name")).as("properties")), "name" -> "s")),
      Future(append("nation", nation.select((nId + col("n_nationkey")).as("id"),
        props("name" -> col("n_name")).as("properties")), "name" -> "s")),
      Future(append("customer", chk(customer.select((cId + col("c_custkey")).as("id"),
        props("name" -> col("c_name"), "ck" -> col("c_custkey"),
          "acctbal" -> col("c_acctbal"), "mktsegment" -> col("c_mktsegment"))
          .as("properties"))),
        "name" -> "s", "ck" -> "n", "acctbal" -> "n", "mktsegment" -> "s")),
      Future {
        // nation -in-> region and customer -in-> nation share the label;
        // customer edge locids are offset past the 25 nation edges
        append("in", nation.select((inId + col("n_nationkey")).as("id"),
          (nId + col("n_nationkey")).as("start"), (rId + col("n_regionkey")).as("end"),
          lit("{}").as("properties")))
        append("in", customer.select((inId + lit(100L) + col("c_custkey")).as("id"),
          (cId + col("c_custkey")).as("start"), (nId + col("c_nationkey")).as("end"),
          lit("{}").as("properties")))
      })
    def ordersPart = Seq(
      Future(append("order", chk(orders.select((oId + col("o_orderkey")).as("id"),
        props("totalprice" -> col("o_totalprice"), "status" -> col("o_orderstatus"))
          .as("properties"))),
        "totalprice" -> "n", "status" -> "s")),
      Future(append("placed", orders.select((plId + col("o_orderkey")).as("id"),
        (cId + col("o_custkey")).as("start"), (oId + col("o_orderkey")).as("end"),
        lit("{}").as("properties")))))
    def shipsPart = Seq(
      Future(append("supplier", supplier.select((sId + col("s_suppkey")).as("id"),
        props("name" -> col("s_name")).as("properties")), "name" -> "s")),
      Future(append("part", chk(part.select((pId + col("p_partkey")).as("id"),
        props("name" -> col("p_name")).as("properties"))), "name" -> "s")),
      Future(append("ships", chk(lineitem.select(
        (shId + col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        (sId + col("l_suppkey")).as("start"), (pId + col("l_partkey")).as("end"),
        props("qty" -> col("l_quantity")).as("properties"))), "qty" -> "n")))
    val loads = always ++ (if (parts(Orders)) ordersPart else Nil) ++
      (if (parts(Ships)) shipsPart else Nil)
    loads.foreach(Await.result(_, Duration.Inf))
    s
  }
}
