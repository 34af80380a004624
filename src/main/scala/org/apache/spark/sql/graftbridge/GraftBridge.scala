package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Column <-> Expression and frame <-> session bridge. Spark 4 made Column
  * backend-agnostic and hid the classic Expression conversions (and a
  * frame's logical plan) behind `private[sql]`; extension libraries
  * conventionally reach them from an org.apache.spark.sql subpackage
  * (same pattern as spark-connectors in the wild).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly CONVERT the column's node tree to a Catalyst expression
    * (ExpressionUtils.expression only wraps it in a lazy
    * ColumnNodeExpression, which stays Unevaluable if it reaches
    * execution unconverted — e.g. when a function-registry builder
    * returns it into an analyzed plan). Needed for UDAF applications. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `df`'s logical plan as a frame of `spark`, so it and every frame
    * derived from it plan under `spark`'s conf; `df` itself when it
    * already belongs to `spark`. A `foreachBatch` micro-batch frame
    * belongs to the stream's cloned session, which does not see conf set
    * on the session its caller holds. */
  def bind(spark: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq spark) df
    else Dataset.ofRows(ClassicConversions.castToImpl(spark),
      ClassicConversions.castToImpl(df).logicalPlan)
}
