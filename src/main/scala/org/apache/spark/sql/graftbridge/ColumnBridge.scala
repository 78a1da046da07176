package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ↔ Expression converters
  * (Spark 4 moved the classic API behind org.apache.spark.sql.classic).
  * Compiled inside the org.apache.spark.sql package on purpose — the same
  * pattern Spark extension libraries use to expose custom Catalyst
  * expressions as user-facing Columns.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is private[sql]) —
    * the entry point for custom logical operators like graft's native
    * as-of join node.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `builder` bound to the live context `sc` (`Builder.sparkContext` is
    * private), so the session it builds takes the builder's options as
    * its initial options without a second `SparkContext.getOrCreate`. */
  def onContext(builder: org.apache.spark.sql.SparkSession.Builder,
      sc: org.apache.spark.SparkContext): org.apache.spark.sql.SparkSession.Builder =
    builder.sparkContext(sc)

  /** Expose what a `SparkSessionExtensions` instance would register
    * (`build*` are private[sql]) — lets specs verify the
    * `spark.sql.extensions=graft.plans.GraftExtensions` deployment path
    * without tearing down the shared test session.
    */
  def builtOptimizerRules(e: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    e.buildOptimizerRules(spark)

  def builtPlannerStrategies(e: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    e.buildPlannerStrategies(spark)

  /** `NormalizeFloatingNumbers.normalize` is private[sql]: canonicalizes
    * -0.0 → 0.0 and NaN bit patterns (incl. nested in structs/arrays) so
    * float-typed expressions hash and compare consistently — what Spark
    * applies to its own join/grouping keys, exposed for custom operators'
    * keys.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The analyzed logical plan of a DataFrame — the input shape
    * `ScalarSubquery` wants when a custom operator embeds one query's
    * single-row result inside another (graft's bloom-probe pattern:
    * `BloomFilterMightContain` requires its filter side to be a constant
    * or a scalar subquery, exactly how Spark's own `InjectRuntimeFilter`
    * builds it).
    */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
