package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]`; extensions that build `Column`s from custom Catalyst
  * expressions need this one-file subpackage shim (the `private[sql]`
  * scope covers subpackages). No Spark internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (Dataset.ofRows is private[sql])
    * — the entry point custom logical operators (graft.plans) need. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** Analyzed plan of a DataFrame (the classic accessor). */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
      .analyzed

  /** Release the executor storage behind a `localCheckpoint(true)`-ed
    * frame once a newer round supersedes it (iterative operators:
    * PageRank / Bpe). A checkpointed Dataset's analyzed
    * plan is a LogicalRDD over the persisted RDD; unpersisting that RDD
    * is the only way to free it — `Dataset.unpersist` only talks to the
    * cache manager, which never saw it. No-op for non-checkpointed
    * frames.
    */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    case _ => ()
  }
}
