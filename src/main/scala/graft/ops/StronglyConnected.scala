package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

/** Strongly connected components — `graph-mark-components kind=strong`.
  *
  * Forward-backward anchor peeling (the FW-BW coloring family —
  * Salihoglu & Widom, VLDB 2014; GraphX ships the same shape): each
  * round
  *
  *  1. TRIM: nodes with no in-edges or no out-edges inside the active
  *     subgraph are singleton SCCs — assign and drop them (one degree
  *     aggregate; cascades resolve across rounds);
  *  2. LABEL: propagate min-anchor labels over forward AND reversed
  *     edges in ONE fused fixpoint — per iteration two edges⋈labels
  *     hash joins + min aggregates inside one job, max(diam_f, diam_b)
  *     steps, localCheckpoint cuts lineage (the PageRank/q41 loop
  *     discipline);
  *  3. PEEL: a node whose forward and backward labels AGREE on anchor
  *     m satisfies m ⇝ v and v ⇝ m, so it lies in SCC(m); assign all
  *     agreeing nodes (every min-anchored SCC resolves simultaneously)
  *     and remove them.
  *
  * The minimum active id is always its own anchor, so every round
  * assigns at least one SCC — termination is guaranteed; rounds are
  * bounded by the condensation's anchor-chain depth (short on real
  * graphs; a loud 64-round cap catches the adversarial long-chain DAG
  * rather than running unbounded). Component id is pinned to the
  * MINIMUM node id in the component — the same deterministic stance as
  * the weak variant. Driver state is loop control only; labels and
  * assignments live in DataFrames.
  */
object StronglyConnected {

  private val MaxRounds = 64

  /** Instrumentation for the fixpoint's driver-round-trip budget: the
    * label loop folds checkpoint materialization AND the convergence
    * probe into ONE action per step (lazy localCheckpoint — the first
    * action over the marked RDD persists it), so `driverActions` stays
    * at `fixpointSteps + minAncestorCalls` (the +1 per call is the
    * seed-label checkpoint). A spec pins actions ≤ 2 per step. */
  private[graft] val driverActions = new java.util.concurrent.atomic.AtomicLong
  private[graft] val fixpointSteps = new java.util.concurrent.atomic.AtomicLong
  private[graft] val minAncestorCalls = new java.util.concurrent.atomic.AtomicLong
  private[graft] def resetProbeStats(): Unit = {
    driverActions.set(0); fixpointSteps.set(0); minAncestorCalls.set(0)
  }

  /** edges: first two columns are (src, dst); any id type with an
    * ordering. Returns (node, comp) covering every edge endpoint —
    * isolated nodes are the caller's concern (as in the weak variant).
    * `local = false` pins the distributed loop. */
  def components(edges: DataFrame, local: Boolean = true): DataFrame = {
    val Seq(sc, dc) = edges.columns.toSeq.take(2)
    // Size-gated driver-local Tarjan (optimization round 21, guide
    // §1.2): the FW-BW loop below pays ~6 lazy-checkpoint frames + 3
    // count actions per round plus a full label fixpoint — on a gated-
    // scale graph the identical (node, comp = SCC-min id) labeling is
    // one collect + one local pass. Gate and parity notes in LocalGraph.
    if (local) LocalGraph.strongComponents(edges.select(F.col(sc), F.col(dc))) match {
      case Some(comp) => return comp
      case None => ()
    }
    val e0 = edges.select(F.col(sc).as("src"), F.col(dc).as("dst"))
      .where(F.col("src").isNotNull && F.col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // every intermediate frame in the round loop is marked for LAZY
    // localCheckpoint: the round-gate count() (and the label fixpoint's
    // own probes) materialize the whole pending chain in ONE job while
    // still truncating lineage — the round-15 driver-round-trip
    // discipline (the q41/minAncestor batching, applied to the outer
    // loop: ~3 driver actions per round instead of ~9)
    // explode, not union(select, select): ONE pass over e0 — the union
    // form scans the (possibly still unfilled) cache twice in one
    // stage, so both branches race to fill every partition (measured as
    // run >> cpu block-lock time on the q223 gate)
    var active = e0
      .select(F.explode(F.array(F.col("src"), F.col("dst"))).as("node"))
      .distinct().localCheckpoint(eager = false)
    var eAct = e0
    val parts = scala.collection.mutable.Buffer.empty[DataFrame]
    var round = 0
    while (active.count() > 0) {
      round += 1
      if (round > MaxRounds)
        throw new IllegalStateException(
          s"strongly-connected components did not converge in $MaxRounds rounds " +
            "(condensation chain deeper than the cap); consider kind=weak or " +
            "pre-condensing the graph")
      // 1. trim: no in-edges or no out-edges inside the active set →
      // singleton SCC. ONE exploded pass + ONE aggregate computes both
      // degrees (vs two scans + two distincts + two anti-joins + union):
      // keep = nodes with BOTH an in- and an out-edge; everything else
      // active (including isolated leftovers) trims
      val keep = eAct
        .select(F.explode(F.array(
          F.struct(F.col("dst").as("node"), F.lit(1).as("d")),
          F.struct(F.col("src").as("node"), F.lit(0).as("d")))).as("x"))
        .select(F.col("x.node").as("node"), F.col("x.d").as("d"))
        .groupBy("node")
        .agg(F.max("d").as("hasIn"), F.min("d").as("hasOut"))
        .where(F.col("hasIn") === 1 && F.col("hasOut") === 0)
        .select("node")
      val trimmed = active
        .join(keep, Seq("node"), "left_anti")
        .select(F.col("node"), F.col("node").as("comp"))
        .localCheckpoint(eager = false)
      parts += trimmed
      active = active.join(trimmed.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      eAct = eAct
        .join(active.select(F.col("node").as("src")), Seq("src"), "left_semi")
        .join(active.select(F.col("node").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(eager = false)
      // 2-3. min-anchor labels both ways; agreeing nodes peel as SCCs
      val both = minAnchorBoth(eAct, active)
      val scc = both
        .where(F.col("lbl_f") === F.col("lbl_b"))
        .select(F.col("node"), F.col("lbl_f").as("comp"))
        .localCheckpoint(eager = false)
      parts += scc
      active = active.join(scc.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      eAct = eAct
        .join(active.select(F.col("node").as("src")), Seq("src"), "left_semi")
        .join(active.select(F.col("node").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint(eager = false)
    }
    e0.unpersist()
    // edge-free graph: no endpoints, empty (node, comp) result with the
    // right schema (the caller coalesces isolated nodes to their own id)
    if (parts.isEmpty)
      e0.select(F.col("src").as("node"), F.col("src").as("comp")).limit(0)
    else parts.reduce(_ union _)
  }

  /** (lbl_f, lbl_b)(v) = min id over {v} ∪ ancestors / ∪ descendants —
    * BOTH directions in ONE fused fixpoint (round-15: the two
    * propagations were sequential loops, costing diam_f + diam_b driver
    * round-trips; fused, each step joins the edges twice inside one
    * plan and the loop runs to the LATER of the two convergences —
    * max(diam_f, diam_b) job launches, ~half the wall-clock on the SCC
    * gate). ONE driver action per step: the next-label frame is marked
    * for LAZY localCheckpoint and the convergence probe's count both
    * materializes the checkpointed partitions and returns the change
    * count in the same job — the q41 checksum-batching discipline. */
  private[graft] def minAnchorBoth(e: DataFrame, nodes: DataFrame): DataFrame = {
    minAncestorCalls.incrementAndGet()
    var lbl = nodes.select(F.col("node"),
      F.col("node").as("lbl_f"), F.col("node").as("lbl_b")).localCheckpoint()
    driverActions.incrementAndGet() // seed-label checkpoint (once per call)
    var changed = 1L
    while (changed > 0) {
      // both directions in ONE exploded edge pass + ONE label join +
      // ONE aggregate (vs 2 scans + 2 joins + 2 aggs per step): a
      // forward message carries the source's lbl_f to dst, a backward
      // message the destination's lbl_b to src
      val msgs = e.select(F.explode(F.array(
          F.struct(F.col("src").as("u"), F.col("dst").as("node"), F.lit(true).as("fwd")),
          F.struct(F.col("dst").as("u"), F.col("src").as("node"), F.lit(false).as("fwd")))).as("m"))
        .select(F.col("m.u").as("u"), F.col("m.node").as("node"), F.col("m.fwd").as("fwd"))
        .join(lbl.select(F.col("node").as("u"),
          F.col("lbl_f").as("ulf"), F.col("lbl_b").as("ulb")), Seq("u"))
        .groupBy("node").agg(
          F.min(F.when(F.col("fwd"), F.col("ulf"))).as("minf"),
          F.min(F.when(!F.col("fwd"), F.col("ulb"))).as("minb"))
      val next = lbl.join(msgs, Seq("node"), "left")
        .select(F.col("node"),
          F.least(F.col("lbl_f"), F.coalesce(F.col("minf"), F.col("lbl_f"))).as("lbl_f"),
          F.least(F.col("lbl_b"), F.coalesce(F.col("minb"), F.col("lbl_b"))).as("lbl_b"),
          (F.coalesce(F.col("minf"), F.col("lbl_f")) < F.col("lbl_f") ||
            F.coalesce(F.col("minb"), F.col("lbl_b")) < F.col("lbl_b")).as("__chg"))
        .localCheckpoint(eager = false)
      fixpointSteps.incrementAndGet()
      driverActions.incrementAndGet()
      changed = next.where(F.col("__chg")).count()
      lbl = next.drop("__chg")
    }
    lbl
  }
}
