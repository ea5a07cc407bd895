package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ catalyst Expression bridge.
  *
  * Spark 4 moved the converters behind `private[sql]`
  * (`classic.ExpressionUtils`); the KQL compiler needs them in exactly
  * one place — classifying a `scan` assignment's expression tree as the
  * additive accumulator form `v = v + e` (lowered to a running window
  * sum) versus a row-only assignment. The inspection is read-only over
  * unresolved trees; no analyzer or execution internals are touched.
  */
object GraftColumnBridge {
  /** Lazy wrapper (ColumnNodeExpression) — fine for handing back to
    * Spark, opaque to tree inspection. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly-converted catalyst tree (UnresolvedFunction /
    * UnresolvedAttribute nodes) — the form [[graft.kql.KqlCompiler]]
    * pattern-matches for the scan-assignment classification. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A DataFrame over a resolved logical plan — how
    * [[graft.pipeline.KqlTransform]] hands back its re-rooted plan. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Membership-in-subquery as a composable boolean Column.
    *
    * Wraps catalyst `InSubquery(value, ListQuery(plan))` over the
    * operand's analyzed plan; Spark's predicate-subquery rewrite lowers
    * it to a broadcast (or, past the broadcast threshold, shuffle)
    * left-semi / existence join — no operand values are ever collected
    * to the driver and no wide `In` literal is built. Used by the KQL
    * compiler's tabular `in` operand above the literal-`isin`
    * threshold.
    */
  def inSubquery(value: Column, sub: Dataset[Row]): Column =
    column(catalyst.expressions.InSubquery(
      Seq(catalystExpression(value)),
      catalyst.expressions.ListQuery(sub.queryExecution.analyzed)))

  /** True when the session's CacheManager holds no cached plans — the
    * test hook pinning that transient compile-time caches (tabular-in
    * probes) are released and never leak past `compile()`. */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** True when `plan` has a CacheManager entry (a persisted frame). Used
    * by the KQL BFS lowering to skip its own loop checkpoint when the
    * edge source is already cache-backed (a materialize()d let) — a
    * second materialization of the same rows would only add a redundant
    * block write+read per execution. */
  def isCachedPlan(spark: SparkSession,
                   plan: catalyst.plans.logical.LogicalPlan): Boolean = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.sharedState.cacheManager.lookupCachedData(cs, plan).isDefined
  }
}
