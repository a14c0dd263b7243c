/** Expression -> Column and logical plan -> DataFrame bridge.
  *
  * Spark 4's `Column` wraps a ColumnNode, and the conversion helpers
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`.
  * Declaring this one-object subpackage of `org.apache.spark.sql` is the
  * standard library pattern (Apache Sedona, Deequ, Frameless do the
  * same) to construct Columns straight from catalyst Expressions.
  *
  * Why: the graft Column API (`GraftFunctions.lsh_bucket(...)` etc.)
  * used `call_function`, which resolves through the SESSION FUNCTION
  * REGISTRY — so every DataFrame-API operator silently depended on the
  * caller having run `GraftSession.install` first, and a vanilla
  * `SparkSession.builder` session threw UNRESOLVED_ROUTINE. Building
  * the expression directly removes that hidden session dependence; the
  * registry remains for the `spark.sql(...)` surface.
  *
  * `frame` wraps a logical plan built with catalyst nodes (the PIP plan
  * that `SpatialJoins` and `PipJoinRewrite` share) as a DataFrame,
  * through `Dataset.ofRows`, which is `private[sql]` too.
  */
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
