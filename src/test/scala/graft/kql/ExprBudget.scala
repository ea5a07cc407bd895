package graft.kql

import org.apache.spark.sql.DataFrame

/** A fixed ceiling on the expression nodes of a compiled plan. A
  * lowering that copies a subtree once per step grows exponentially
  * (an occurrence fold over `locate` once built ~2^17 nodes for one
  * `indexof`) and exhausts the heap in analysis, optimization or codegen
  * instead of failing an assertion; the budget makes such a plan fail
  * by size. Subquery plans count too. */
object ExprBudget {
  /** The largest plan in `KqlCompilerSpec` and `KqlFuzzSpec` has 17,323
    * nodes (six ipv4/ipv6 range lowerings in one projection); the
    * retired fold alone had ~131k. */
  val MaxNodes = 50000

  def nodes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectWithSubqueries { case p =>
      var n = 0L
      p.expressions.foreach(_.foreach(_ => n += 1))
      n
    }.sum

  def check(df: DataFrame): DataFrame = {
    val n = nodes(df)
    assert(n <= MaxNodes, s"compiled plan has $n expression nodes, budget $MaxNodes")
    df
  }
}
