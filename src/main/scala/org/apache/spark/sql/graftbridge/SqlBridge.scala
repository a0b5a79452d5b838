package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 moved Column off Expression (ColumnNode); the converters live in
  * `private[sql]` ExpressionUtils. This bridge re-exports just the two
  * conversions custom Catalyst expressions need, from inside the sql
  * package namespace — the standard pattern for Catalyst extension libs.
  */
object SqlBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Re-root a DataFrame's logical plan onto another session of the same
    * SparkContext (`Dataset.ofRows` is private[sql]) — used to start a
    * pre-built streaming frame under a cloned session so its per-stream
    * conf (state-store fan-out) never mutates the shared session.
    */
  def rebind(df: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** [[rebind]] over the ANALYZED plan — required when the plan contains
    * references only the source session can resolve (a temp view such as
    * a memory-sink table): analysis binds them to concrete relations
    * first, which then evaluate on any session of the same context.
    */
  def rebindAnalyzed(df: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** The rows of a frame whose optimized plan is a local relation — a
    * literal batch such as a request's query vectors — read off the plan,
    * so the caller gets them without running a query. None for any other
    * frame.
    */
  def localRows(df: org.apache.spark.sql.DataFrame)
      : Option[Seq[org.apache.spark.sql.Row]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(l.schema)
        Some(l.data.map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row]))
      case _ => None
    }

  /** How many datasets the session's cache holds (`numCachedEntries` is
    * private[sql]) — the probe for "no persisted dataset outlives its
    * owner".
    */
  def cachedEntries(s: org.apache.spark.sql.SparkSession): Int =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
