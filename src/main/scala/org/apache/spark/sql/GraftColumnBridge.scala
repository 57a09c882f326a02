package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge exposing the classic Column ↔ Expression converters to the graft
  * library — they went `private[sql]` in Spark 4's Connect-era API, and custom
  * Catalyst expressions (e.g. [[graft.functions.CosineSimilarity]]) still need
  * to surface as `Column`s, and re-planning a checkpoint with its true
  * statistics needs the `LogicalRDD` constructor and `Dataset.ofRows`. Lives
  * in Spark's namespace solely for access; the standard pattern for Catalyst
  * extensions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame — what a table-valued
    * function builder must hand the analyzer (Connect-era `Dataset` hides
    * `queryExecution` behind the classic binding). Analyzed plans are stable
    * under re-analysis, so substituting one mid-resolution is the same move
    * the built-in view resolution makes.
    */
  def analyzedPlan(df: Dataset[Row]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** An eager checkpoint's frame re-planned with `rows` as its TRUE
    * statistics: `rowCount = rows`, `sizeInBytes = rows × row width` (the
    * planner's own per-row estimate over the output types), and
    * `partitioning` as its output partitioning. The checkpoint's
    * `LogicalRDD` otherwise carries the estimate of the plan it replaced,
    * and under AQE no partitioning at all (see
    * [[graft.operators.Checkpoints]]). Same blocks, output attributes,
    * ordering and constraints.
    */
  def withTrueStats(df: Dataset[Row], rows: Long,
                    partitioning: Partitioning): DataFrame = {
    val lr = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val session = df.queryExecution.sparkSession
    val stats = Statistics(
      sizeInBytes = EstimationUtils.getSizePerRow(lr.output) * rows,
      rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(session, new LogicalRDD(lr.output, lr.rdd,
      partitioning, lr.outputOrdering, lr.isStreaming,
      lr.stream)(session, Some(stats), Some(lr.constraints)))
  }
}
