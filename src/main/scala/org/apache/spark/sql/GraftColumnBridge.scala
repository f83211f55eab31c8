package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column internals (Spark 4's Connect-unified
  * Column is a lazy ColumnNode tree with no public `.expr`). Standard
  * extension-library pattern: one object in the sql package, nothing
  * else lives here. Used by every Column helper in `graft.functions`
  * (`column(X(expression(c)))` — `expression` stays unresolved until the
  * session analyzes the plan, so no helper binds to a session).
  */
object GraftColumnBridge {

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** An AnalysisException carrying a plain message (its message
    * constructor is not public), for graft's SQL function builders. */
  def analysisError(message: String): AnalysisException =
    new AnalysisException(message, None, None, None, None, Map.empty, Array.empty)
}
