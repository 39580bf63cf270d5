package graft.cypher

import java.nio.file.Files
import graft.SparkTestBase
import graft.graph.GraphCatalog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Builder.withRowIndexCounted` replaced the rdd.zipWithIndex
  * round-trip (a full decode+encode pass of every write batch) with a
  * pure-DataFrame per-partition-offset form (r15 optimization). The
  * contract CREATE/MERGE rely on: the index column is a bijection onto
  * 0..n-1, the returned count is exact, and both hold on skewed and
  * empty partitions — over a checkpointed input, repeated evaluations
  * see the same (partition, position) for every row.
  */
class RowIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private lazy val builder = new Builder(
    spark,
    new GraphCatalog(spark,
      Files.createTempDirectory("graft_rowindex").toString),
    "g", Map.empty, _ => null)

  test("index is a bijection onto 0..n-1 across uneven partitions") {
    import spark.implicits._
    // partitions with deliberately skewed sizes, empty ones at the
    // start, middle and end: 0, 1, 0, 499 and 0 rows; ids p*1000 + i,
    // so positions != values
    val sizes = Seq(0, 1, 0, 499, 0)
    val df = spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .flatMap(p => (0 until sizes(p)).map(i => p * 1000L + i))
      .toDF("id")
      .localCheckpoint(true)
    val perPartition = df.groupBy(spark_partition_id().as("p")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.indices.map(perPartition.getOrElse(_, 0L)) == sizes.map(_.toLong))
    val n = df.count()
    val (indexed, counted) = builder.withRowIndexCounted(df, "__ix")
    assert(counted == n)
    val ix = indexed.select("__ix").collect().map(_.getLong(0)).sorted
    assert(ix.toSeq == (0L until n).toSeq,
      s"expected contiguous 0..${n - 1}")
    // schema: the index column is appended, everything else untouched
    assert(indexed.columns.toSeq == df.columns.toSeq :+ "__ix")
  }

  test("empty input yields count 0 and an empty indexed frame") {
    val df = spark.range(0, 100).toDF().where(col("id") < 0).localCheckpoint(true)
    val (indexed, counted) = builder.withRowIndexCounted(df, "__ix")
    assert(counted == 0L)
    assert(indexed.count() == 0L)
  }

  test("index is stable across evaluations of the same checkpointed frame") {
    val df = spark.range(0, 200).select(col("id"), (col("id") * 3).as("v"))
      .repartition(4) // round-robin: order only pinned by the checkpoint
      .localCheckpoint(true)
    val (indexed, _) = builder.withRowIndexCounted(df, "__ix")
    val a = indexed.select("id", "__ix").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = indexed.select("id", "__ix").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "same frame, same evaluation plan => same index per row")
  }
}
