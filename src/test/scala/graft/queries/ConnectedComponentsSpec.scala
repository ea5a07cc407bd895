package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Large-star/small-star CC on graph shapes the LSH pair source never
  * produces in tests: long chains (the shape that makes min-label
  * propagation take O(n) rounds), rings, several disjoint components,
  * and stars. Representatives must be the component minimum, sizes must
  * partition the vertex set, and the round count must stay O(log n) on
  * a 1000-node chain — the bound that makes the operator safe at 100 TB
  * against adversarial graph shapes. */
class ConnectedComponentsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def cc(pairs: Seq[(Long, Long)], local: Boolean = false): Map[Long, (Long, Long)] = {
    import spark.implicits._
    LlmQueries.connectedComponents(pairs.toDF("id_a", "id_b"), local)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("chain of 12 converges to one component (worst-case diameter)") {
    val got = cc((0L until 11L).map(i => (i, i + 1)))
    assert(got.size == 12)
    assert(got.values.forall(_ == (0L, 12L)))
  }

  test("ring plus disjoint pair plus star") {
    val ring = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val pair = Seq((30L, 31L))
    val star = Seq((20L, 25L), (20L, 26L), (20L, 27L))
    val got = cc(ring ++ pair ++ star)
    assert(got(10L) == (10L, 3L) && got(11L) == (10L, 3L) && got(12L) == (10L, 3L))
    assert(got(30L) == (30L, 2L) && got(31L) == (30L, 2L))
    assert(Seq(20L, 25L, 26L, 27L).forall(got(_) == (20L, 4L)))
  }

  test("edge order and direction do not matter") {
    assert(cc(Seq((5L, 1L), (3L, 5L))) == cc(Seq((1L, 5L), (5L, 3L))))
  }

  test("size-gated local union-find == distributed star contraction") {
    import spark.implicits._
    // the round-20 driver-local fast path must be row-identical to the
    // distributed fixpoint on every adversarial shape
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 11L).map(i => (i, i + 1)),                       // chain
      Seq((10L, 11L), (11L, 12L), (12L, 10L), (30L, 31L),
        (20L, 25L), (20L, 26L), (20L, 27L)),                     // ring+pair+star
      Seq((7L, 7L), (2L, 1L), (1L, 2L), (2L, 1L)),               // self/dup edges
      Seq.empty)                                                 // empty
    shapes.foreach { pairs =>
      val df = pairs.toDF("id_a", "id_b")
      val dist = LlmQueries.connectedComponents(df, local = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val local = LlmQueries.connectedComponents(df, local = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(local == dist, s"shape $pairs")
    }
  }

  test("1000-node chain: one component in <= 2*log2(n) contraction rounds") {
    import spark.implicits._
    val n = 1000L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (df, rounds) = LlmQueries.connectedComponentsWithRounds(pairs, local = false)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n)
    assert(got.forall { case (_, rep, size) => rep == 0L && size == n })
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0))
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("duplicate and self edges are harmless") {
    val got = cc(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (2L, 3L)))
    assert(got.size == 3)
    assert(got.values.forall(_ == (1L, 3L)))
  }

  test("random graphs match a reference union-find (40 cases)") {
    val rnd = new scala.util.Random(2026)
    for (case_ <- 0 until 40) {
      val n = 2 + rnd.nextInt(50)
      val nEdges = 1 + rnd.nextInt(2 * n)
      val pairs = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (pairs.nonEmpty) {
        // driver-side union-find over the same vertex set
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        val expected = verts.map(v => v -> find(v)).toMap
        val sizes = expected.values.groupBy(identity).map { case (r, vs) => r -> vs.size.toLong }
        for (local <- Seq(false, true)) {
          val got = cc(pairs, local)
          assert(got.map { case (v, (rep, _)) => v -> rep } == expected, s"case $case_ reps diverged")
          assert(got.forall { case (v, (rep, size)) => size == sizes(rep) }, s"case $case_ sizes diverged")
        }
      }
    }
  }
}
