package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Parity gate for the size-gated driver-local graph kernels
  * (round 21): LocalGraph.weakComponents / strongComponents must be
  * row-identical to the distributed star-contraction / FW-BW loops on
  * every graph shape, for long AND string ids — including the
  * supplementary-plane string tie where Java String order diverges
  * from Spark's UTF-8 byte order, and null endpoints. */
class LocalGraphSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def sortedPairs(df: DataFrame): Seq[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSeq
      .sortBy(p => (String.valueOf(p._1), String.valueOf(p._2)))

  private def weakParity(pairs: DataFrame): Unit = {
    val local = LocalGraph.weakComponents(pairs)
      .getOrElse(fail("gate refused a small local relation"))
    val dist = graft.queries.LlmQueries.connectedComponents(pairs, local = false)
    assert(sortedPairs(local) == sortedPairs(dist))
    // the same union-find pass yields the component sizes, and both
    // paths emit rows in doc_id order
    assert(local.collect().toSeq == dist.collect().toSeq)
  }

  private def strongParity(pairs: DataFrame): Unit = {
    val local = LocalGraph.strongComponents(pairs)
      .getOrElse(fail("gate refused a small local relation"))
    val dist = StronglyConnected.components(pairs, local = false)
    assert(sortedPairs(local) == sortedPairs(dist))
  }

  test("weak: string chain / ring / star == distributed star contraction") {
    import spark.implicits._
    weakParity(Seq(
      ("c1", "o3"), ("c1", "o6"), ("c2", "o9"),            // q149 star shape
      ("x1", "x2"), ("x2", "x3"), ("x3", "x1"),            // ring
      ("z9", "z9")                                          // self loop
    ).toDF("src", "dst"))
  }

  test("weak: long ids with duplicates and self loops") {
    import spark.implicits._
    weakParity(Seq((1L, 2L), (2L, 1L), (7L, 7L), (2L, 3L), (5L, 6L))
      .toDF("src", "dst"))
  }

  test("weak: null endpoints stay isolated vertices, edge connects nothing") {
    import spark.implicits._
    val pairs = Seq((Some("a"), Some("b")), (Some("c"), None), (None, Some("d")))
      .toDF("src", "dst")
    weakParity(pairs)
    val local = LocalGraph.weakComponents(pairs).get.collect()
      .map(r => (r.get(0), r.get(1))).toMap
    assert(local("c") == "c" && local("d") == "d" && local(null) == null)
  }

  test("weak: supplementary-plane tie uses UTF-8 byte order (U+E000 < U+1D11E)") {
    import spark.implicits._
    val clef = new String(Character.toChars(0x1D11E))
    val pua = "\uE000"
    // Java String order would pick the clef (surrogate 0xD834 < 0xE000);
    // Spark's UTF8String order picks the PUA char (3-byte < 4-byte lead)
    val pairs = Seq((clef, pua)).toDF("src", "dst")
    weakParity(pairs)
    val local = LocalGraph.weakComponents(pairs).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(local(clef) == pua && local(pua) == pua)
  }

  test("strong: q223 hub shape — bidirectional stars + one-way hub sink") {
    import spark.implicits._
    // two customer groups {2,4,6} and {3,9} bidirectional on their min,
    // every node one-way to hub -1: strongly, each group is one SCC and
    // the hub is a lone sink — weak would fuse everything
    val bidir = Seq((4L, 2L), (2L, 4L), (6L, 2L), (2L, 6L), (9L, 3L), (3L, 9L))
    val hub = Seq(2L, 4L, 6L, 3L, 9L).map(k => (k, -1L))
    val pairs = (bidir ++ hub).toDF("src", "dst")
    strongParity(pairs)
    val local = LocalGraph.strongComponents(pairs).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local(2L) == 2L && local(4L) == 2L && local(6L) == 2L)
    assert(local(3L) == 3L && local(9L) == 3L && local(-1L) == -1L)
  }

  test("strong: DAG chain is all singletons; cycle is one SCC; cross links don't fuse") {
    import spark.implicits._
    strongParity((1L to 11L).map(i => (i, i + 1)).toDF("src", "dst"))
    strongParity((1L to 12L).map(i => (i, i % 12 + 1)).toDF("src", "dst"))
    // two 3-cycles joined one-way stay separate SCCs
    strongParity(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("src", "dst"))
  }

  test("strong: string ids + supplementary-plane SCC minimum") {
    import spark.implicits._
    val clef = new String(Character.toChars(0x1D11E))
    val pua = "\uE000"
    // 2-cycle between the two: SCC min must be the UTF-8 minimum (pua)
    val pairs = Seq((clef, pua), (pua, clef), ("zz", clef)).toDF("src", "dst")
    strongParity(pairs)
    val local = LocalGraph.strongComponents(pairs).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(local(clef) == pua && local(pua) == pua && local("zz") == "zz")
  }

  test("strong: null-endpoint edges are dropped before the vertex set") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(3L), None))
      .toDF("src", "dst")
    strongParity(pairs)
    val local = LocalGraph.strongComponents(pairs).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == Map(1L -> 1L, 2L -> 1L)) // 3 absent: only null-partnered
  }

  test("strong: random digraphs match a reference Kosaraju (30 cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(2027)
    for (case_ <- 0 until 30) {
      val n = 2 + rnd.nextInt(24)
      val nEdges = 1 + rnd.nextInt(3 * n)
      val pairs = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference: Kosaraju on the driver
      val adj = pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val radj = pairs.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      var order = List.empty[Long]
      val seen = scala.collection.mutable.Set.empty[Long]
      def dfs1(v: Long): Unit = if (seen.add(v)) {
        adj.getOrElse(v, Nil).foreach(dfs1); order ::= v
      }
      verts.foreach(dfs1)
      val compOf = scala.collection.mutable.Map.empty[Long, Long]
      def dfs2(v: Long, root: Long): Unit = if (!compOf.contains(v)) {
        compOf(v) = root; radj.getOrElse(v, Nil).foreach(dfs2(_, root))
      }
      order.foreach(v => dfs2(v, v))
      // canonicalize reference comp to the member minimum
      val minOf = compOf.groupBy(_._2).map { case (r, m) => r -> m.keys.min }
      val expected = verts.map(v => v -> minOf(compOf(v))).toMap
      val local = LocalGraph.strongComponents(pairs.toDF("src", "dst")).get
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(local == expected, s"case $case_")
    }
  }

  test("SizeGate: a join-built edge list over small leaves is admitted (q223 shape)") {
    import spark.implicits._
    // a self-join's root estimate multiplies its children; the leaf sum
    // stays the size of what the plan reads
    val cust = (1L to 1000L).map(k => (k, k % 50)).toDF("c", "grp")
    val edges = cust.as("a").join(cust.as("b"), $"a.grp" === $"b.grp")
      .select($"a.c".as("src"), $"b.c".as("dst"))
    val rootEstimate = edges.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rootEstimate > SizeGate.MaxBytes, s"root estimate $rootEstimate")
    assert(SizeGate.small(edges))
    val rows = SizeGate.collect(edges, SizeGate.MaxDriverRows)
      .getOrElse(fail("gate refused a small join-built edge list"))
    assert(rows.length == edges.count())
  }

  test("SizeGate: a relation over the row cap returns None") {
    import spark.implicits._
    val df = (1L to 101L).toDF("id")
    assert(SizeGate.small(df))
    assert(SizeGate.collect(df, 100).isEmpty)
    assert(SizeGate.collect(df, 101).map(_.length).contains(101))
  }

  test("SizeGate: unknown leaf statistics err large") {
    // a checkpoint-free RDD-backed relation carries the default (huge)
    // size estimate, so the gate keeps it distributed
    val rdd = spark.sparkContext.parallelize(1 to 10).map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.IntegerType))))
    assert(!SizeGate.small(df))
    assert(SizeGate.collect(df, 100).isEmpty)
  }
}
