package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> Expression converters —
  * the standard extension-library pattern for plugging custom Catalyst
  * expressions into the public Column API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bloom filter aggregate over xxhash64(value) — the same internal
    * pair Spark's runtime row-level filters use, so build and probe
    * hash identically. Null values are skipped, so a conditional
    * `when(keep, value)` input filters inside the aggregate; a group
    * with no non-null value yields null.
    */
  def bloomFilterAgg(value: Column, estimatedItems: Long, numBits: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.functions.{when, xxhash64}
    column(new BloomFilterAggregate(
      expression(when(value.isNotNull, xxhash64(value))), Literal(estimatedItems),
      Literal(numBits)).toAggregateExpression())
  }

  /** Bridge to `private[sql]` Dataset.ofRows — the standard
    * extension-library entry point for planning a custom logical node
    * (the injected strategy turns it into its physical operator).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame (classic runtime). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Bridges to the `private[sql]` SparkSessionExtensions builders so
    * specs can assert what a deployed `spark.sql.extensions` session
    * would actually receive.
    */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  def plannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(spark)

  /** Bridge to the `private[sql]` analyzer error for a non-foldable
    * literal-only function argument — function builders raise it so a
    * column reference fails with the standard AnalysisException
    * instead of an eval(null) NPE.
    */
  def nonFoldableArgumentError(funcName: String, paramName: String,
      dataType: org.apache.spark.sql.types.DataType): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors
      .nonFoldableArgumentError(funcName, paramName, dataType)

  /** might_contain probe against a fit-time serialized bloom filter. */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.functions.xxhash64
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), expression(xxhash64(value))))
  }
}
