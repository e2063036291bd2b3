package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters,
  * so graft's native Catalyst expressions (e.g.
  * [[graft.plans.DotProductExpr]]) can surface through the public Column
  * API without requiring per-session function registration. This is the
  * only file that lives inside Spark's namespace, and it adds no
  * behavior — it only re-exports two conversions and the column names
  * a Column references (its unresolved attributes, read off the column
  * tree without analysis).
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def references(c: Column): Seq[String] =
    c.node.collect { case a: internal.UnresolvedAttribute => a.nameParts.head }
}
