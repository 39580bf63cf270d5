package graphbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped tables (the column names and value
  * ranges of the TPC-H-ish star schema the engine's graph queries are
  * written against). Every value is a hash of (data seed, salt, key),
  * so a scale factor always yields byte-identical tables; row counts
  * follow TPC-H: 150k customers, 1.5M orders, ~6M lineitems per unit.
  */
object Data {
  val tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val nations = 25

  final case class Sizes(customers: Long, suppliers: Long, parts: Long, orders: Long)
  def sizes(sf: Double): Sizes = Sizes(
    math.max(50L, (150000 * sf).toLong), math.max(10L, (10000 * sf).toLong),
    math.max(50L, (200000 * sf).toLong), math.max(500L, (1500000 * sf).toLong))

  private val dataSeed = 42L
  /** Uniform in [0, n). */
  private def h(salt: Int, n: Long, key: Column*): Column =
    pmod(xxhash64((lit(dataSeed) +: lit(salt) +: key): _*), lit(n))
  private def pick(xs: Seq[String], idx: Column): Column =
    element_at(array(xs.map(lit): _*), (idx + 1).cast("int"))

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    val sz = sizes(sf)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    import spark.implicits._

    write("region", regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"))
    write("nation", (0 until nations).map(k => (k, s"NATION_$k", k % regions.size))
      .toDF("n_nationkey", "n_name", "n_regionkey"))

    val k = col("id")
    write("customer", spark.range(sz.customers).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      h(1, nations, k).cast("int").as("c_nationkey"),
      ((h(2, 1100000L, k) - 100000) / 100.0).as("c_acctbal"),
      pick(segments, h(3, segments.size, k)).as("c_mktsegment")))

    write("supplier", spark.range(sz.suppliers).select(
      k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      h(4, nations, k).cast("int").as("s_nationkey"),
      ((h(5, 1100000L, k) - 100000) / 100.0).as("s_acctbal")))

    val adjectives = Seq("large", "hot", "small", "shiny", "brushed", "plated")
    val nouns = Seq("ring", "bolt", "nut", "gear", "spring", "valve", "washer")
    write("part", spark.range(sz.parts).select(
      k.as("p_partkey"),
      concat_ws(" ", pick(adjectives, h(6, adjectives.size, k)),
        pick(nouns, h(7, nouns.size, k))).as("p_name"),
      concat(lit("Brand#"), (h(8, 25, k) + 1).cast("string")).as("p_brand"),
      (h(9, 50, k) + 1).cast("int").as("p_size"),
      (h(10, 110000L, k) / 100.0 + 900).as("p_retailprice")))

    // status: F and O share ~48% each, P is the rare ~4% state
    val status = h(12, 100, k)
    write("orders", spark.range(sz.orders).select(
      k.as("o_orderkey"),
      h(11, sz.customers, k).as("o_custkey"),
      when(status < 48, "F").when(status < 96, "O").otherwise("P").as("o_orderstatus"),
      ((h(13, 50000000L, k) + 85000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + h(14, 2400, k) * 86400).as("o_orderdate")))

    val o = col("o")
    val ln = col("ln")
    write("lineitem", spark.range(sz.orders)
      .select(k.as("o"), explode(sequence(lit(1L), h(15, 7, k) + 1)).as("ln"))
      .select(
        o.as("l_orderkey"),
        h(16, sz.parts, o, ln).as("l_partkey"),
        h(17, sz.suppliers, o, ln).as("l_suppkey"),
        ln.cast("int").as("l_linenumber"),
        (h(18, 50, o, ln) + 1).cast("double").as("l_quantity"),
        (h(19, 10, o, ln) / 100.0).as("l_discount")))
  }

  /** The tables as temp views under their own names (the hybrid SQL
    * templates join them beside the graph, and the oracles read them).
    */
  def register(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
}
