package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The one size gate in front of every driver-local kernel (BPE merge
  * loop, LPA, weak/strong components, frontier BFS).
  *
  * A relation is small when the SUM of Catalyst's size estimates over
  * the LEAF relations of its optimized plan is ≤ [[MaxBytes]]. This errs
  * LARGE: a leaf with unknown stats defaults to a huge estimate, so a
  * 100 TB input keeps the distributed path. Leaves, not the plan root,
  * because a join-built relation like q223's edge list carries a
  * product-of-children root estimate that is meaninglessly huge, while
  * its leaves say exactly how much data the plan can read.
  *
  * [[collect]] adds the hard row cap at collect time: `limit(cap + 1)`
  * executes incrementally, so even a mis-estimated exploding join stops
  * after ~cap rows and the caller falls through to its distributed loop.
  */
object SizeGate {

  /** ~3M rows at typical edge-row widths. */
  val MaxBytes: Long = 256L * 1024 * 1024

  /** Row cap shared by the driver-local graph and LPA kernels: far
    * above any gated graph's edge set, ~100 MB of collected rows
    * worst-case at graph-id widths. */
  val MaxDriverRows = 2000000

  def small(df: DataFrame): Boolean =
    try {
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      leaves.nonEmpty && leaves.map(_.stats.sizeInBytes).sum <= MaxBytes
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The rows of `df` when the gate admits it and it holds at most
    * `cap` rows; None → stay distributed. */
  def collect(df: DataFrame, cap: Int): Option[Array[Row]] =
    if (!small(df)) None
    else Some(df.limit(cap + 1).collect()).filter(_.length <= cap)
}
