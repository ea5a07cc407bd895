package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank by power iteration over a directed edge list — the
  * graph-centrality scorer a training-data pipeline uses for link-based
  * document quality (and the other classic iterated-join workload next
  * to [[KMeans]] and the connected-components dedup clustering).
  *
  * rank_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank_t(u) / outdeg(u)
  *
  * Scale design (100 TB edge lists):
  *  - Per iteration: ONE shuffle join of edges⋈ranks on src (the
  *    rank table is nodes-sized, edges dominate) + one hash aggregate
  *    on dst. Nothing driver-side except N (a single count — the same
  *    bounded-scalar class as KMeans' convergence checksum).
  *  - edges/outdeg are computed once and persisted; ranks
  *    localCheckpoints per round so round k never replays rounds 1..k-1.
  *  - Dangling mass (nodes with no out-edges) is dropped, not
  *    redistributed — documented choice, mirrored exactly by the
  *    oracle's unrolled iterations.
  */
object PageRank {

  /** @param edges (src, dst) string-keyed directed edges
    * @param normalize scale ranks by N so the mean sits at ~1 (stable
    *                  magnitudes for thresholds/oracles at any graph size)
    * @param tol L1 convergence tolerance: when > 0, iteration stops
    *            early once Σ|rank_t − rank_{t−1}| < tol (an O(1) driver
    *            scalar per round off the already-checkpointed table —
    *            the KMeans checksum pattern); 0 keeps exactly-k rounds
    *            with NO per-round action (the oracle-comparable form)
    * @return (node, rank) after at most `k` damped iterations from uniform */
  def run(edges: DataFrame, k: Int, damping: Double = 0.85,
          normalize: Boolean = false, tol: Double = 0.0): DataFrame =
    runCounted(edges, k, damping, normalize, tol)._1

  /** [[run]] plus the number of iterations actually executed (spec
    * surface for the early stop). */
  private[graft] def runCounted(edges: DataFrame, k: Int, damping: Double = 0.85,
                                normalize: Boolean = false, tol: Double = 0.0): (DataFrame, Int) = {
    require(k >= 1, "PageRank needs at least one iteration")
    // node ids keep the caller's type: long-keyed graphs (q111) shuffle
    // 8-byte keys through every round; the string cast is only a
    // normalizer when src/dst types disagree (union safety)
    val sameType = edges.schema("src").dataType == edges.schema("dst").dataType
    val srcC = if (sameType) col("src") else col("src").cast("string")
    val dstC = if (sameType) col("dst") else col("dst").cast("string")
    // out-degree is loop-invariant: bake it into the edge table once
    // (one window shuffle on src) instead of re-joining a degree table
    // every round — per round there is then exactly ONE join
    // (edges ⋈ ranks) plus the dst aggregate. LAZY localCheckpoint, not
    // persist: with tol == 0 the whole loop is one lazy chain whose
    // first action is the CALLER's — a persist released before that
    // action (or leaked after it) either recomputes the window k times
    // inside the final job or holds a CacheManager entry forever; the
    // checkpointed blocks fill once inside that job, serve every
    // round's reference, and are GC-reclaimed with the plan.
    val e = edges.select(srcC.as("src"), dstC.as("dst"))
      .withColumn("od", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("src"))
        .cast("double"))
      .localCheckpoint(eager = false)
    // explode, not union(select, select): ONE pass over e — two union
    // branches in one stage race to fill the unmaterialized checkpoint
    // blocks, doubling the window-degree pass (the q146/q223 finding)
    val nodes = e.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count() // O(1) driver scalar; materializes e + nodes blocks
    // LAZY checkpoints (round 15): the per-round convergence probe (or
    // the caller's final action when tol == 0) materializes each round's
    // marked frame in the SAME job — lineage still truncates at every
    // round, but the loop stops paying one extra job launch per round
    // FAULT-TOLERANCE trade (round-17 advisor): localCheckpoint
    // blocks are NOT recomputable after executor loss — on a
    // multi-executor cluster a lost block fails the job where persist
    // would recompute; blocks also release via driver GC + ContextCleaner
    // rather than an explicit unpersist. Acceptable for the local bench
    // (one JVM, no executor loss); a cluster deployment should prefer
    // reliable checkpointing (spark.sparkContext.setCheckpointDir +
    // .checkpoint()) for loop invariants.
    var ranks = nodes.withColumn("rank", lit(1.0 / n)).localCheckpoint(eager = false)
    var iters = 0
    var converged = false
    while (iters < k && !converged) {
      val contrib = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst").as("node"), (col("rank") / col("od")).as("c"))
        .groupBy("node").agg(sum("c").as("in"))
      // ranks is node-complete, so joining contrib onto it (rather than
      // onto nodes) carries the previous rank through for the delta —
      // same join either way, no extra shuffle
      val stepped = ranks.withColumnRenamed("rank", "__prev")
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"),
          col("__prev"))
        .localCheckpoint(eager = false)
      iters += 1
      if (tol > 0) {
        // O(1) driver scalar off the checkpointed table — no replay
        val delta = stepped.agg(sum(abs(col("rank") - col("__prev")))).head.getDouble(0)
        converged = delta < tol
      }
      ranks = stepped.drop("__prev")
    }
    (if (normalize) ranks.withColumn("rank", col("rank") * lit(n.toDouble)) else ranks, iters)
  }
}
