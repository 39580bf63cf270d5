package graphbench

import org.apache.spark.sql.{Row, SparkSession}

/** Result checking, done after the clock stops. Cells compare in a
  * canonical text form: numbers at two decimal places (so a count
  * matches whether it arrives as long, decimal or double), everything
  * else by its string value. Unordered results compare as multisets.
  */
object Check {
  def cell(x: Any): String = x match {
    case null => "null"
    case n: java.math.BigDecimal => n.setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    case n: BigDecimal => cell(n.bigDecimal)
    case n: java.lang.Double => cell(new java.math.BigDecimal(n.toString))
    case n: java.lang.Float => cell(new java.math.BigDecimal(n.toString))
    case n: Number => cell(java.math.BigDecimal.valueOf(n.longValue))
    case other => other.toString
  }
  def canon(rows: Seq[Seq[Any]], ordered: Boolean): Seq[String] = {
    val lines = rows.map(_.map(cell).mkString("|"))
    if (ordered) lines else lines.sorted
  }
  def rows(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)

  /** Canonical expected rows of every distinct oracle- or
    * reference-checked op, keyed by op text; computed concurrently (the
    * oracles are independent Spark queries). A failing oracle maps to
    * Left(reason).
    */
  def expectations(spark: SparkSession, ops: Seq[Op]): Map[String, Either[String, Seq[String]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val todo = ops.filter(o => o.expect.isInstanceOf[Oracle] || o.expect.isInstanceOf[Reference])
      .groupBy(_.text).values.map(_.head).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(todo.map(op => Future {
      op.text -> (try {
        val rows = op.expect match {
          case Oracle(sql) => Check.rows(spark.sql(sql).collect())
          case Reference(f) => f(spark)
          case _ => Nil
        }
        Right(canon(rows, op.ordered))
      } catch { case e: Exception => Left(s"oracle failed: $e") })
    })), Duration.Inf).toMap
    finally pool.shutdown()
  }

  /** None when the op's outcome is right, else what is wrong. `got`
    * is the last result the op produced (its read-back's, if any).
    */
  def verify(op: Op, got: Seq[Seq[Any]], writeStats: Map[String, Long],
      wanted: Map[String, Either[String, Seq[String]]]): Option[String] =
    op.expect match {
      case Stats(want) =>
        val bad = want.filter { case (k, v) => !writeStats.get(k).contains(v) }
        if (bad.isEmpty) op.readBack.flatMap(verify(_, got, Map.empty, wanted))
        else Some(s"write stats ${bad.keys.toSeq.sorted.map(k => s"$k=${writeStats.get(k).fold("none")(_.toString)}").mkString(", ")}; " +
          s"expected ${bad.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
      case Exact(rs) => compare(canon(got, op.ordered), canon(rs, op.ordered))
      case _ => wanted(op.text).fold(Some(_), compare(canon(got, op.ordered), _))
    }

  private def compare(have: Seq[String], want: Seq[String]): Option[String] =
    if (have == want) None
    else Some(s"${have.size} rows, expected ${want.size}; first difference: " +
      have.zipAll(want, "<none>", "<none>").find { case (a, b) => a != b }
        .map { case (a, b) => s"got [$a] want [$b]" }.get)
}
