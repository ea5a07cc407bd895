package graft.ops

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Iterated Lloyd's k-means over an embedding column — the TRAINING loop
  * that completes the train → index → search story: q60 is one M-step,
  * q61 one E-step, q62 searches a trained codebook; this composes them
  * until the assignment fixes or `maxIter` rounds run.
  *
  * Scale design: one Spark query per Lloyd round, nothing but k×dim
  * rows reaching the driver.
  *  - The vectors are read once, by a set-up query that fills the `vecs`
  *    checkpoint and returns the `vec_id < k` seed codebook.
  *  - The codebook (k×dim doubles) lives on the driver and enters each
  *    round as a literal, so the E-step is a map-side column:
  *    `array_min(transform(codebook, c -> struct(l2sq_d(e, c.cvec),
  *    c.cluster))).cluster`. `array_min` orders structs field by field
  *    (nulls first), the same order `min_by(…, struct(d2, cluster))`
  *    uses, so ties break on (d2, cluster) and no vector is shuffled.
  *  - The same query posexplodes the vector and runs ONE partial/final
  *    hash aggregate on (cluster, pos): the 6dp-rounded mean per
  *    position (the M-step), plus `count` and
  *    `bit_xor(xxhash64(vec_id, cluster))` over one row per vector (the
  *    convergence checksum; sum() would overflow under ANSI mode,
  *    bit_xor can't). Only those k×dim rows are collected; the driver
  *    sums and XORs them into the round's (count, xor) signature and
  *    places the means by `pos` into the next codebook. Float sums stay
  *    inside Spark's `avg`; the driver does no float arithmetic.
  *  - The codebook needs no checkpoint: it is a literal each round and a
  *    local relation on return.
  *
  * Determinism (oracle parity, the q60/q61 rules): centroids round to
  * 6dp after every M-step, distances are explicit sequential folds
  * (fixed IEEE order), argmin ties break on (d2, cluster). A centroid is
  * as long as its longest member; a cluster left with no non-empty
  * member drops out of the codebook. Early stop agrees with a
  * fixed-iteration unrolled oracle: when the assignment repeats, one
  * more M-step over the same groups reproduces the same rounded
  * centroids, so returning the previous codebook is exact, not
  * approximate.
  */
object KMeans {

  /** Train on `emb` (columns `vec_id: long`, `e: array<double>`).
    * Initial codebook: the k vectors with `vec_id < k` (deterministic).
    * Returns (centroids as (cluster, pos, mean_v) rows, M-steps run).
    */
  def train(spark: SparkSession, emb: DataFrame, k: Int, maxIter: Int): (DataFrame, Int) = {
    val (cents, iters) = trainCodebook(spark, emb, k, maxIter)
    val rows = cents.select(col("cluster"), posexplode(col("cvec")).as(Seq("pos", "mean_v")))
    (rows, iters)
  }

  /** Like [[train]] but returns the assembled codebook
    * (`cluster, cvec: array<double>`, a local relation) — the shape an
    * IVF index consumes directly (q65), saving the explode/reassemble
    * round-trip. `vec_id` must be unique; `cluster` has its type. */
  def trainCodebook(spark: SparkSession, emb: DataFrame, k: Int, maxIter: Int): (DataFrame, Int) = {
    require(k > 0 && maxIter > 0, s"need k > 0 and maxIter > 0, got k=$k maxIter=$maxIter")
    // FAULT-TOLERANCE trade (round-17 advisor): localCheckpoint blocks
    // are NOT recomputable after executor loss — on a multi-executor
    // cluster a lost block fails the job where persist would recompute;
    // blocks also release via driver GC + ContextCleaner rather than an
    // explicit unpersist. Acceptable for the local bench (one JVM, no
    // executor loss); a cluster deployment should prefer reliable
    // checkpointing (spark.sparkContext.setCheckpointDir +
    // .checkpoint()) for loop invariants.
    val vecs = emb.select(col("vec_id"), col("e")).localCheckpoint(eager = false)
    val schema = StructType(Seq(
      StructField("cluster", vecs.schema("vec_id").dataType),
      StructField("cvec", ArrayType(DoubleType))))
    // the set-up query: its one job fills the lazy checkpoint
    var codebook: Seq[Row] = vecs.filter(col("vec_id") < k).collect().toSeq

    var prev: Option[(Long, Long)] = None
    var iters = 0
    var converged = false
    while (iters < maxIter && !converged) {
      // an empty codebook assigns nothing: the round's signature is
      // (0, 0) and so is the next codebook, no query needed
      val (sig, next) =
        if (codebook.isEmpty) ((0L, 0L), Seq.empty[Row]) else lloydRound(vecs, codebook, schema)
      if (prev.contains(sig)) converged = true
      else {
        prev = Some(sig)
        codebook = next
        iters += 1
      }
    }
    (spark.createDataFrame(java.util.Arrays.asList(codebook: _*), schema), iters)
  }

  /** One E+M round over a non-empty `codebook`: returns the assignment's
    * (count, xor) signature and the next codebook, sorted by cluster. */
  private def lloydRound(vecs: DataFrame, codebook: Seq[Row],
                         schema: StructType): ((Long, Long), Seq[Row]) = {
    val cb = GraftColumnBridge.column(Literal.create(codebook, ArrayType(schema, containsNull = false)))
    // native squared-L2 kernel — same left-to-right (x−y)² fold order
    // as the retired aggregate(zip_with) HOF
    val nearest = transform(cb, c => struct(
      GraftColumnBridge.column(graft.functions.L2SqD(
        GraftColumnBridge.catalystExpression(col("e")),
        GraftColumnBridge.catalystExpression(c.getField("cvec")))).as("d2"),
      c.getField("cluster").as("cluster")))
    // posexplode_outer keeps empty and null vectors (one row, pos null)
    // in the checksum; `first` marks one row per vector
    val first = coalesce(col("pos"), lit(0)) === 0
    val rows = vecs
      .select(col("vec_id"), col("e"), array_min(nearest).getField("cluster").as("assigned"))
      .select(col("vec_id"), col("assigned"), posexplode_outer(col("e")).as(Seq("pos", "v")))
      .groupBy(col("assigned"), col("pos"))
      .agg(round(avg(col("v")), 6),
        count(when(first, lit(1))),
        bit_xor(when(first, xxhash64(col("vec_id"), col("assigned")))))
      .collect()
    val sig = (rows.map(_.getLong(3)).sum,
      rows.foldLeft(0L)((x, r) => if (r.isNullAt(4)) x else x ^ r.getLong(4)))
    val next = rows.filterNot(_.isNullAt(1)).groupBy(_.get(0)).toSeq.map { case (cluster, cells) =>
      val means = new Array[Any](cells.map(_.getInt(1)).max + 1)
      cells.foreach(r => means(r.getInt(1)) = r.get(2))
      Row(cluster, means.toSeq)
    }.sortBy(_.getAs[Number](0).longValue)
    (sig, next)
  }
}
