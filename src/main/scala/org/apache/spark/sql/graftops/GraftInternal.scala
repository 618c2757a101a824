package org.apache.spark.sql.graftops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into Spark's `private[sql]` internals, so graft's custom logical
  * operators (AsOfJoinNode) can surface as ordinary DataFrames. Same
  * pattern the built-in DSL uses internally.
  */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst Expression behind a user-facing Column (Spark 4 wraps
    * columns in ColumnNodes; this runs the standard converter).
    */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The per-round rebase of every iterative operator: a lazy local
    * checkpoint of `df` whose plan keeps the checkpoint's output
    * partitioning and ordering but drops its origin statistics. (Under
    * AQE Spark's checkpoint records no partitioning or ordering: the
    * adaptive plan reports none before it runs.)
    *
    * A plain `localCheckpoint` copies the origin plan's size estimate into
    * its LogicalRDD. In a loop every round's joins multiply the previous
    * round's estimate, so the BigInt sizeInBytes gains digits
    * geometrically and stats estimation comes to dominate planning after
    * ~10 rounds. Without origin stats the LogicalRDD estimates
    * `spark.sql.defaultSizeInBytes`, as a fresh relation does, so a small
    * per-round frame is broadcast only where the caller says
    * `broadcast()`. The rows stay InternalRows over the checkpointed RDD;
    * nothing is converted through `Row`.
    *
    * Lazy, not eager: no job of its own computes the checkpointed rows;
    * the first job that reads them does. But under AQE, planning the
    * checkpoint runs every shuffle and broadcast stage beneath it at
    * once, each as a job of its own, so a loop that rebases each round
    * runs those stages in its builder, round by round.
    */
  def rebase(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(false)
    val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
    val l = ck.queryExecution.logical.asInstanceOf[LogicalRDD]
    ofRows(session, l.copy()(session, None, None))
  }
}
