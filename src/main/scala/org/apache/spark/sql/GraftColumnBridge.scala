package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column internals (Spark 4's Connect-unified
  * Column is a lazy ColumnNode tree with no public `.expr`). Standard
  * extension-library pattern: one object in the sql package, nothing
  * else lives here. Used by every Column helper in `graft.functions`
  * (`column(X(expression(c)))` — `expression` stays unresolved until the
  * session analyzes the plan, so no helper binds to a session) and by
  * graft's data-skipping predicate translation (graft.sources.DataSkipping).
  */
object GraftColumnBridge {

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** An AnalysisException carrying a plain message (its message
    * constructor is not public), for graft's SQL function builders. */
  def analysisError(message: String): AnalysisException =
    new AnalysisException(message, None, None, None, None, Map.empty, Array.empty)

  /** Neutral, public view of a Column's node tree — just enough shape
    * for conservative predicate analysis (function applications over
    * single-part attributes and literals; everything else is Opaque). */
  sealed trait NodeView
  final case class FnView(name: String, args: Seq[NodeView]) extends NodeView
  final case class AttrView(name: String) extends NodeView
  final case class LitView(value: Any) extends NodeView
  case object Opaque extends NodeView

  def view(c: Column): NodeView = viewNode(c.node)

  private def viewNode(n: internal.ColumnNode): NodeView = n match {
    case f: internal.UnresolvedFunction =>
      FnView(f.functionName, f.arguments.map(viewNode))
    case a: internal.UnresolvedAttribute if a.nameParts.size == 1 =>
      AttrView(a.nameParts.head)
    case l: internal.Literal => LitView(l.value)
    // Cast is Opaque, NOT stripped: the child's source type is unresolved
    // here, so an order-preserving widening cannot be proven. Stripping
    // would prune on the RAW column's stats range — for order-breaking
    // casts (string "10" < "9" but int 10 > 9) that wrongly excludes
    // files with matching rows, breaking pruning's "safe, never exact"
    // contract. Opaque just costs the skip, never rows.
    case _: internal.Cast => Opaque
    case _ => Opaque
  }
}
