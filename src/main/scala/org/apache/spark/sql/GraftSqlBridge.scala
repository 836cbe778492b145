package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 moved the Column<->catalyst-Expression bridge behind
  * `private[sql]` (`classic.ExpressionUtils`); custom native expressions
  * still need it, so expose the two conversions from inside the package. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over a logical plan (`classic.Dataset.ofRows` is likewise
    * `private[sql]` in Spark 4). Used by the fO2 auto-probe to run its
    * bounded probe on a repartition-stripped plan — a LocalLimit above an
    * Exchange would otherwise execute the full map side — and by
    * `graft.Barrier.of`. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
