package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Lloyd's-loop training: convergence (early stop via the assignment
  * checksum), centroid correctness on separable data, and the case where
  * the loop genuinely has to iterate (initial centroids both inside one
  * true cluster). */
class KMeansSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** The sf0.001 embeddings as `(vec_id, e: array<double>)`. */
  private def sf0001Emb = {
    import org.apache.spark.sql.functions.{col, expr}
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("e"))
  }

  private def embDf(vecs: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    vecs.toDF("vec_id", "e")
  }

  test("separable clusters: converges with early stop, centroids = exact means") {
    // 3 well-separated clusters at 0 / 100 / 200 (dim 2), interleaved ids
    // so the vec_id < 3 init picks one seed per true cluster.
    val vecs = (0L until 30L).map { i =>
      val c = (i % 3).toDouble
      (i, Seq(c * 100.0 + (i / 3).toDouble * 0.1, c * 100.0 - (i / 3).toDouble * 0.1))
    }
    val (cents, iters) = KMeans.train(spark, embDf(vecs), k = 3, maxIter = 10)
    assert(iters < 10, "must early-stop via the assignment checksum, not exhaust maxIter")
    assert(iters <= 3, s"separable data should fix almost immediately, took $iters M-steps")
    val rows = cents.collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(rows.size == 6) // 3 clusters × dim 2
    // exact per-cluster means: offsets 0.0, 0.1, …, 0.9 average to 0.45
    for (c <- 0 to 2) {
      assert(math.abs(rows((c.toLong, 0)) - (c * 100.0 + 0.45)) < 1e-6)
      assert(math.abs(rows((c.toLong, 1)) - (c * 100.0 - 0.45)) < 1e-6)
    }
  }

  test("bad init inside one cluster: the loop actually iterates, then converges") {
    // Both seeds (vec_id 0, 1) sit in the low cluster; vector 1.0 first
    // assigns to seed c1, and only after the M-step pulls c1 to ~80 does
    // it re-assign to c0 — requiring a real second E/M round.
    val vecs = Seq[(Long, Seq[Double])](
      0L -> Seq(0.0), 1L -> Seq(1.0), 2L -> Seq(0.2), 3L -> Seq(0.4),
      4L -> Seq(100.0), 5L -> Seq(100.2), 6L -> Seq(100.4))
    val (cents, iters) = KMeans.train(spark, embDf(vecs), k = 2, maxIter = 10)
    assert(iters == 2, s"expected exactly 2 M-steps (re-assignment after round 1), got $iters")
    val rows = cents.collect().map(r => ((r.getLong(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(math.abs(rows((0L, 0)) - 0.4) < 1e-6)   // mean(0, 1, 0.2, 0.4)
    assert(math.abs(rows((1L, 0)) - 100.2) < 1e-6) // mean(100, 100.2, 100.4)
  }

  test("early stop is a fixpoint: one more unrolled E/M round reproduces the codebook") {
    // The q65 oracle-parity argument: the engine may stop at round r < N
    // while the oracle unrolls all N rounds — valid only if an E/M round
    // over the converged codebook reproduces the identical 6dp-rounded
    // centroids. Recompute that extra round test-side and compare.
    val vecs = Seq[(Long, Seq[Double])](
      0L -> Seq(0.0), 1L -> Seq(1.0), 2L -> Seq(0.2), 3L -> Seq(0.4),
      4L -> Seq(100.0), 5L -> Seq(100.2), 6L -> Seq(100.4))
    val (atConv, iters) = KMeans.trainCodebook(spark, embDf(vecs), k = 2, maxIter = 10)
    assert(iters < 10)
    val cb = atConv.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    // E-step: nearest centroid, (d2, cluster) tie-break
    def d2(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val assigned = vecs.map { case (_, e) => (cb.minBy { case (c, cv) => (d2(e, cv), c) }._1, e) }
    // M-step: 6dp-rounded per-cluster means
    val recomputed = assigned.groupBy(_._1).map { case (c, grp) =>
      val dim = grp.head._2.length
      c -> (0 until dim).map(p =>
        BigDecimal(grp.map(_._2(p)).sum / grp.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    assert(cb.map { case (c, v) => (c, v.toList) }.toList ==
      recomputed.map { case (c, v) => (c, v.toList) }.toList)
  }

  test("q65 parity: engine train(maxIter=4) equals a 4-round no-early-stop unroll") {
    // The exact invariant the q65 DuckDB oracle relies on: whatever round
    // the engine stops at, its codebook equals 4 unconditionally-unrolled
    // E/M rounds (early stop ⇒ fixpoint rounds; no early stop ⇒ both ran
    // exactly 4). Recompute the unroll driver-side on the real fixture.
    val emb = sf0001Emb
    val (cbDf, iters) = KMeans.trainCodebook(spark, emb, k = 8, maxIter = 4)
    assert(iters <= 4)
    val engine = cbDf.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val pts = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var cents: Map[Long, Array[Double]] = pts.filter(_._1 < 8).toMap
    for (_ <- 1 to 4) {
      val assigned = pts.map { case (_, e) =>
        (cents.toSeq.map { case (c, cv) => (d2(e, cv), c) }.min._2, e)
      }
      cents = assigned.groupBy(_._1).map { case (c, g) =>
        c -> Array.tabulate(g.head._2.length)(p =>
          BigDecimal(g.map(_._2(p)).sum / g.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    assert(engine.keySet == cents.keySet)
    // 2e-6: distributed vs sequential double-sum order can flip the 6th
    // decimal's rounding; the DuckDB hash gate pins the SQL-level equality
    for (c <- engine.keySet.toSeq.sorted; p <- engine(c).indices)
      assert(math.abs(engine(c)(p) - cents(c)(p)) <= 2e-6,
        s"cluster $c pos $p: engine ${engine(c)(p)} vs unroll ${cents(c)(p)}")
  }

  test("one set-up job, then at most two jobs per round, and no vector crosses an exchange") {
    // The round shape: the nearest centroid is a map-side column against
    // the codebook literal, and the only shuffle is the (cluster, pos)
    // aggregate. A round that shuffled or broadcast vectors (the old
    // min_by E-step over a cross join) ran ~6 jobs and moved arrays.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.{ArrayType, DataType, StructType}
    import org.apache.spark.sql.util.QueryExecutionListener
    val emb = sf0001Emb
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val (_, iters) = try KMeans.trainCodebook(spark, emb, k = 8, maxIter = 4) finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    // the convergence round runs no M-step, so it is not in `iters`
    val rounds = if (iters < 4) iters + 1 else iters
    assert(jobs.get <= 2 + 2 * rounds, s"${jobs.get} jobs for $rounds rounds")
    def holdsArray(dt: DataType): Boolean = dt match {
      case _: ArrayType => true
      case s: StructType => s.fields.exists(f => holdsArray(f.dataType))
      case _ => false
    }
    val helper = new AdaptiveSparkPlanHelper {}
    import scala.jdk.CollectionConverters._
    assert(!plans.isEmpty)
    for (qe <- plans.asScala; x <- helper.collect(qe.executedPlan) { case x: Exchange => x }) {
      val arrays = x.output.filter(a => holdsArray(a.dataType))
      assert(arrays.isEmpty, s"exchange moves array columns ${arrays.mkString(", ")}:\n$x")
    }
  }

  private def codebook(df: org.apache.spark.sql.DataFrame): Seq[(Long, List[Any])] =
    df.collect().map(r => r.getAs[Number](0).longValue -> r.getSeq[Any](1).toList).sortBy(_._1).toSeq

  test("ragged vectors: distances run over the shorter length, a centroid is as long as its longest member") {
    val vecs = Seq[(Long, Seq[Double])](
      0L -> Seq(0.0, 0.0), 1L -> Seq(100.0, 100.0, 100.0),
      2L -> Seq(1.0, 1.0, 4.0), 3L -> Seq(101.0))
    val (cb, iters) = KMeans.trainCodebook(spark, embDf(vecs), k = 2, maxIter = 10)
    assert(iters == 1)
    assert(codebook(cb) == Seq(0L -> List(0.5, 0.5, 4.0), 1L -> List(100.5, 100.0, 100.0)))
  }

  test("empty and null vectors are assigned and counted but add no centroid position") {
    import spark.implicits._
    // [] is at distance 0.0 from every centroid and null at a null
    // distance (nulls sort first): both tie-break to cluster 0
    val rows = Seq[(Long, Option[Seq[Double]])](
      0L -> Some(Seq(0.0)), 1L -> Some(Seq(10.0)), 2L -> Some(Seq.empty),
      3L -> None, 4L -> Some(Seq(9.0)))
    val (cb, iters) = KMeans.trainCodebook(spark, rows.toDF("vec_id", "e"), k = 2, maxIter = 10)
    assert(iters == 1)
    assert(codebook(cb) == Seq(0L -> List(0.0), 1L -> List(9.5)))
    // a null seed is at a null distance from everything, so it takes
    // every vector and cluster 1 drops out
    val nullSeed = Seq[(Long, Option[Seq[Double]])](
      0L -> None, 1L -> Some(Seq(10.0)), 2L -> Some(Seq(2.0)), 3L -> Some(Seq(9.0)))
    val (cb2, iters2) = KMeans.trainCodebook(spark, nullSeed.toDF("vec_id", "e"), k = 2, maxIter = 10)
    assert(iters2 == 1)
    assert(codebook(cb2) == Seq(0L -> List(7.0)))
    // only empty vectors: the first M-step leaves an empty codebook
    val empties = Seq[(Long, Seq[Double])](0L -> Seq.empty, 1L -> Seq.empty)
    val (cb3, iters3) = KMeans.trainCodebook(spark, embDf(empties), k = 2, maxIter = 10)
    assert(iters3 == 2 && cb3.count() == 0, s"iters $iters3")
  }

  test("a cluster that loses every member drops out of the codebook") {
    // vectors 0 and 1 coincide: the tie on d2 breaks to cluster 0, so
    // cluster 1 has no member after the first E-step
    val vecs = Seq[(Long, Seq[Double])](0L -> Seq(5.0), 1L -> Seq(5.0), 2L -> Seq(6.0))
    val (cb, iters) = KMeans.trainCodebook(spark, embDf(vecs), k = 2, maxIter = 10)
    assert(iters == 1)
    assert(codebook(cb) == Seq(0L -> List(5.333333)))
  }

  test("k greater than the number of rows seeds every vector") {
    val vecs = Seq[(Long, Seq[Double])](0L -> Seq(1.0), 1L -> Seq(2.0), 2L -> Seq(3.0))
    val (cb, iters) = KMeans.trainCodebook(spark, embDf(vecs), k = 10, maxIter = 10)
    assert(iters == 1)
    assert(codebook(cb) == Seq(0L -> List(1.0), 1L -> List(2.0), 2L -> List(3.0)))
  }

  test("an int vec_id trains like a long one and keeps its type in cluster") {
    import spark.implicits._
    val vecs = Seq[(Int, Seq[Double])](
      0 -> Seq(0.0), 1 -> Seq(1.0), 2 -> Seq(0.2), 3 -> Seq(0.4),
      4 -> Seq(100.0), 5 -> Seq(100.2), 6 -> Seq(100.4))
    val (cb, iters) = KMeans.trainCodebook(spark, vecs.toDF("vec_id", "e"), k = 2, maxIter = 10)
    assert(iters == 2)
    assert(cb.schema("cluster").dataType == org.apache.spark.sql.types.IntegerType)
    assert(codebook(cb) == Seq(0L -> List(0.4), 1L -> List(100.2)))
  }

  test("an empty input runs one M-step and returns an empty codebook") {
    val (cb, iters) = KMeans.trainCodebook(spark, embDf(Seq.empty), k = 8, maxIter = 4)
    assert(iters == 1)
    assert(cb.columns.toSeq == Seq("cluster", "cvec") && cb.count() == 0)
  }

  test("maxIter caps the loop even when not converged") {
    val vecs = Seq[(Long, Seq[Double])](
      0L -> Seq(0.0), 1L -> Seq(1.0), 2L -> Seq(0.2), 3L -> Seq(0.4),
      4L -> Seq(100.0), 5L -> Seq(100.2), 6L -> Seq(100.4))
    val (_, iters) = KMeans.train(spark, embDf(vecs), k = 2, maxIter = 1)
    assert(iters == 1)
  }
}
