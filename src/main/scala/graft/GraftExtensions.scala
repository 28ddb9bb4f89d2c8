package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotExpr, SqDistExpr}

/** SQL-surface registration: exposes the engine's codegen distance
  * kernels to `spark.sql(...)` users as `graft_sqdist`, `graft_dot`,
  * `graft_cosine_distance`. Wire with the session builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftExtensions {
  /** Imperative twin of the extension for an ALREADY-BUILT session
    * (extensions only apply at session construction): registers the
    * same three functions into the live function registry. Used by the
    * driver-gated SQL-surface query (SparkEntry "vec_kernels_sql"). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.functions.{DotExpr, SqDistExpr}
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_sqdist", exprs => SqDistExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_dot", exprs => DotExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_cosine_distance", exprs =>
        org.apache.spark.sql.catalyst.expressions.Subtract(
          org.apache.spark.sql.catalyst.expressions.Literal(1.0d),
          DotExpr(exprs(0), exprs(1))), "scala_udf")
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  private def binary(name: String)(mk: (Expression, Expression) => Expression)
  : Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"$name requires exactly 2 arguments, got ${args.length}")
    mk(args(0), args(1))
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("graft_sqdist"),
      info(classOf[SqDistExpr], "graft_sqdist",
        "graft_sqdist(a, b) - squared L2 distance between float/double arrays"),
      binary("graft_sqdist")(SqDistExpr(_, _))))
    e.injectFunction((FunctionIdentifier("graft_dot"),
      info(classOf[DotExpr], "graft_dot",
        "graft_dot(a, b) - dot product of float/double arrays"),
      binary("graft_dot")(DotExpr(_, _))))
    e.injectFunction((FunctionIdentifier("graft_cosine_distance"),
      info(classOf[DotExpr], "graft_cosine_distance",
        "graft_cosine_distance(a, b) - 1 - dot(a,b) for pre-normalized arrays"),
      binary("graft_cosine_distance")((a, b) =>
        org.apache.spark.sql.catalyst.expressions.Subtract(
          org.apache.spark.sql.catalyst.expressions.Literal(1.0d),
          DotExpr(a, b)))))
  }
}
