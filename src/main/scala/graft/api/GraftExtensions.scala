package graft.api

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions injector: exposes the jsonb expression
  * library to plain Spark SQL (`spark.sql("SELECT jsonb_add(a, b)")`).
  *
  * Usage: `.config("spark.sql.extensions", "graft.api.GraftExtensions")`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[graft.expr.JsonbCall].getName, name), builder))
    }
    // whole-operator extension: the bounded top-k-per-key plan
    // (strategy) and the transparent row_number()<=k rewrite onto it
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

object GraftExtensions {
  /** Every jsonb function of the table, plus the vector kernel. */
  val functions: Seq[(String, Seq[Expression] => Expression)] =
    graft.expr.JsonbFns.functions :+
      // codegen'd primitive dot product over array<float>/array<double>
      // — the ANN kernel, exposed for SQL-side similarity scoring
      ("vec_dot" -> { (args: Seq[Expression]) =>
        graft.expr.JsonbFns.checkArity("vec_dot", args, 2 to 2)
        graft.expr.VectorExpressions.FloatVecDot(args(0), args(1))
      })

  /** Register into an already-built session (tests, REPLs): the
    * extensions path only applies at session construction. Once per
    * session: every CypherSession and correlated sql() lift calls this,
    * and each re-registration would replace all entries and log a
    * "replaced a previously registered function" warning per function.
    * `jsonb_object_agg` is registered last, so its presence means the
    * whole library is in.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("jsonb_object_agg"))) {
      functions.foreach { case (name, builder) =>
        registry.registerFunction(FunctionIdentifier(name),
          new ExpressionInfo(classOf[graft.expr.JsonbCall].getName, name), builder)
      }
      // aggregates go through the UDAF door (the expression-injection
      // path has no Aggregator surface): the reference's jsonb_agg /
      // jsonb_object_agg, sharing the Cypher collect machinery
      spark.udf.register("jsonb_agg", graft.cypher.JsonbAggregates.jsonbAggUdf)
      spark.udf.register("jsonb_object_agg",
        graft.cypher.JsonbAggregates.jsonbObjectAggUdf)
    }
  }
}
