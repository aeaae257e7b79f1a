package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into spark-sql's `private[sql]` Column <-> Expression
  * converters, so graft's native Catalyst expressions
  * (graft.plans.NativeHashes) can surface as ordinary `Column`s and SQL
  * function builders. Standard extension-library technique; uses only
  * stable classic-session entry points.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** EAGER Column -> Expression conversion. `ExpressionUtils.expression`
    * wraps the column node in a lazy `ColumnNodeExpression`; that wrapper
    * is only unwrapped by the DataFrame analysis entry points, so an
    * expression built inside a FunctionRegistry builder (which runs
    * mid-analysis, e.g. the ChDialect functions) would survive to codegen
    * un-converted and fail. Converting the node up front yields a plain
    * catalyst tree (possibly with Unresolved* leaves, which the analyzer
    * handles normally).
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap an analyzed/analyzable LogicalPlan as a DataFrame — lets an
    * analyzer rule compose its rewrite with the Dataset API (which
    * analyzes eagerly, so relation self-references dedup through the
    * standard path instead of half-rewriting mid-fixpoint).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
