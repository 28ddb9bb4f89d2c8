package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column↔Expression converters — the
  * supported pattern for libraries that add custom Catalyst expressions
  * without a SessionExtensions registration (Spark 4 removed the public
  * `new Column(expr)` constructor). */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Run `body`, and the jobs it submits from RDD actions, under the
    * session's job-artifact state, as Spark runs its own SQL queries.
    * The tasks then use the session's class loader, and Spark caches
    * generated classes per loader: a plan whose code a SQL query of the
    * same session already compiled is not compiled again for the
    * default loader. The codegen cache holds 100 classes by default, in
    * four segments, so each extra copy brings a pass over many operators
    * nearer to evicting, and recompiling, its own classes every time. */
  def inSession[T](spark: SparkSession)(body: => T): T =
    org.apache.spark.JobArtifactSet.withActiveJobArtifactState(
      spark.asInstanceOf[classic.SparkSession].artifactManager.state)(body)
}
