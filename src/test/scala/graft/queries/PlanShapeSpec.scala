package graft.queries

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards for the properties that matter at
  * 100 TB: filters reaching the parquet scan, column pruning, dimension
  * broadcasts, map-only shapes staying shuffle-free, and bucketed
  * candidate joins never degrading to cartesian products. A refactor
  * that silently loses one of these still passes the value oracle — only
  * the plan shows it. */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q10 pricing summary: filter pushed into the parquet scan, columns pruned") {
    val p = plan("q10_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    assert(!p.contains("l_comment"), "unused wide column must not be read")
  }

  test("q11/q12: dimension sides broadcast, never shuffled-merge-joined") {
    assert(plan("q11_shipping_priority").contains("BroadcastHashJoin"))
    val star = plan("q12_region_revenue")
    assert(star.sliding("BroadcastExchange".length).count(_ == "BroadcastExchange") >= 2,
      "both dims of the star join must broadcast")
    assert(!star.contains("SortMergeJoin"))
  }

  test("q22/q24/q37: bucketed candidate joins stay equi-joins (no cartesian fallback)") {
    for (q <- Seq("q22_minhash_lsh", "q24_ngram_jaccard", "q37_embed_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q degraded to a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q degraded to a nested-loop join")
    }
  }

  test("q23/q30: map-only shapes — no hash-partition shuffle (only the oracle sort)") {
    for (q <- Seq("q23_simhash", "q30_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must stay map-side; found a hash shuffle")
    }
  }

  test("q24: scan reads only doc_id and text") {
    val p = plan("q24_ngram_jaccard")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"), read)
    assert(!read.contains("lang") && !read.contains("n_chars"), s"over-read: $read")
  }

  test("q42 as-of join: one union+window plan, never a range/nested-loop join") {
    val p = plan("q42_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must not plan as a range join")
    assert(p.contains("Union") && p.contains("RunningWindowFunction") || p.contains("Window"),
      "expected the union+window formulation")
  }

  test("q43 range join: binned equi-join, never a cross product") {
    val p = plan("q43_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binning must turn the pure range predicate into an equi-join")
    assert(p.contains("__bucket"), "bucket key must drive the join")
  }

  test("q26: literal hyperplane bucketing is map-only up to the bucket join") {
    val p = plan("q26_knn_lsh")
    assert(!p.contains("CartesianProduct"))
    // bucket assignment must not shuffle: the only hash exchanges belong
    // to the bucket equi-join and window, not a GROUP BY vec_id
    assert(!p.contains("keys=[vec_id"), s"unexpected aggregate on vec_id: ")
  }

  test("q51 BM25: map-side tf (no explode), broadcast corpus scalars, top-k not global sort") {
    val p = plan("q51_bm25")
    assert(!p.contains("Generate"), "tf must come from array filter in the projection, not explode")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row corpus aggregate must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("q57 dedup materializer: anti-join carries NO broadcast hint (AQE decides)") {
    // VERDICT r5/r6: a forced broadcast of the drop set OOMs at production
    // dup rates — the join must stay unhinted so AQE picks broadcast vs
    // shuffled-hash from the runtime size. Guard against a refactor
    // silently re-introducing the hint.
    val df = SparkEntry.queries("q57_dedup_keep")(spark, dir)
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), s"forced hint re-introduced:\n$analyzed")
    assert(!analyzed.contains("UnresolvedHint"), s"forced hint re-introduced:\n$analyzed")
  }

  test("q63/q66: datetime predicates reach the parquet scan as pushed filters") {
    for (q <- Seq("q63_kql_text_datetime", "q66_kql_text_dt_breadth")) {
      val p = plan(q)
      val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
      assert(pushed.contains("GreaterThanOrEqual(ts") || pushed.contains("GreaterThan(ts"),
        s"$q lower time bound not pushed:\n$pushed")
      assert(pushed.contains("LessThan(ts") || pushed.contains("LessThanOrEqual(ts"),
        s"$q upper time bound not pushed:\n$pushed")
    }
  }

  test("q64/q65: k-means E-step plans carry no SortMergeJoin (broadcast codebook only)") {
    // The training loop's scale contract: every round is a broadcast
    // cross-score + hash aggregates — a SortMergeJoin anywhere means the
    // codebook stopped broadcasting. q65 additionally must keep its
    // cell-key search an equi-join (no cartesian/nested-loop fallback —
    // the only nested loop allowed is the broadcast codebook cross-score).
    for (q <- Seq("q64_kmeans_train", "q65_ivf_converged")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q plan degraded to SortMergeJoin")
      assert(!p.contains("CartesianProduct"), s"$q plan degraded to a cartesian product")
    }
  }

  test("q68 chunking stays map-only; q69 stoplist joins without SortMergeJoin") {
    val chunk = plan("q68_doc_chunking")
    assert(!chunk.contains("Exchange hashpartitioning"),
      "chunking must not shuffle (only the oracle's range sort)")
    val stop = plan("q69_stopword_filter")
    assert(!stop.contains("SortMergeJoin"), "one-row stoplist must broadcast, not sort-merge")
    assert(!stop.contains("CartesianProduct"))
  }

  test("q72 make-series: window bounds pushed to the scan, no SortMergeJoin") {
    val p = plan("q72_kql_text_makeseries")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    // native-timestamp vintages push LessThan (exact exclusive bound);
    // the nanos-long vintage pushed LessThanOrEqual via NanosTimePushdown
    assert(pushed.contains("GreaterThanOrEqual(ts"), s"window lower bound not pushed:\n$pushed")
    assert(pushed.contains("LessThan(ts") || pushed.contains("LessThanOrEqual(ts"),
      s"window upper bound not pushed:\n$pushed")
    assert(!p.contains("SortMergeJoin"), "scaffold/fill joins must stay broadcast-sized")
  }

  test("q73 serialize: ONE global window (the serialization point), no extra exchange") {
    val p = plan("q73_kql_text_serialize")
    // serialize is a global window by definition; row_number/prev/next
    // must share it — a second single-partition exchange means the window
    // stopped being reused
    val singleParts = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singleParts <= 1, s"expected one serialization exchange, got $singleParts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q75 top-nested: hash aggs + broadcast join back, never SortMergeJoin") {
    val p = plan("q75_kql_text_topnested")
    assert(p.contains("HashAggregate"), "per-level counts must be hash aggregates")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "parent winners (top-2 rows) must broadcast back")
    assert(!p.contains("SortMergeJoin"), "top-nested join-back degraded to SortMergeJoin")
    assert(!p.contains("CartesianProduct"))
  }

  test("q77 mv-apply: zero shuffle — array lambdas, not explode + groupBy") {
    val p = plan("q77_kql_text_mvapply")
    assert(!p.contains("Exchange hashpartitioning"),
      s"mv-apply must stay map-only; found a hash shuffle:\n$p")
    assert(!p.contains("Generate"), "mv-apply must not lower to explode")
  }

  test("q79 bigram LM: scoring joins stay hash/broadcast — no cartesian, no SortMergeJoin") {
    val p = plan("q79_bigram_lm")
    assert(!p.contains("CartesianProduct"), "LM scoring must never be all-pairs")
    assert(!p.contains("SortMergeJoin"), "model tables must hash/broadcast join")
    // the only nested loop allowed is the ONE-ROW vocab-size scalar
    // broadcast (formatted explain lists each operator once in the tree
    // and once in the detail section — count the numbered detail entries)
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1, s"unexpected nested-loop joins ($bnl) beyond the scalar broadcast")
  }

  test("q87 pivot: explicit value list = ONE hash aggregate pass, no extra scan") {
    val p = plan("q87_kql_text_pivot")
    // pivot with explicit output columns must not run a distinct job or
    // join; a second scan of events would betray a value-discovery pass
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans <= 1, s"pivot must scan events once, found $scans scans")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q84 funnel: step windows share one shuffle — never join-based") {
    val p = plan("q84_funnel")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "funnel must be window-based, not join-based")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"funnel must not shuffle per step; found $exchanges exchanges")
  }

  test("q76 quantized ANN: query set broadcasts, no SortMergeJoin") {
    val p = plan("q76_quantized_ann")
    assert(p.contains("BroadcastExchange"), "the small query set must broadcast")
    assert(!p.contains("SortMergeJoin"), "scoring must stay broadcast-shaped")
  }

  test("q96 sample: TakeOrderedAndProject (per-partition top-N), never a global sort") {
    val p = plan("q96_kql_text_sample")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(30).mkString("\n"))
  }

  test("q94 scalar ring 5: map-only up to the final oracle sort (no hash shuffle)") {
    val p = plan("q94_kql_text_scalar5")
    assert(!p.contains("Exchange hashpartitioning"),
      "scalar-ring query must stay map-side; found a hash shuffle")
  }

  test("q97 BPE pair counts: two hash aggs + top-k, no extra shuffle stages") {
    val p = plan("q97_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must be top-k, not a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q142/q143 graph-match: every hop is an equi-join (hash or broadcast), no cartesian") {
    for (q <- Seq("q142_kql_text_graph_match", "q143_kql_text_graph_varlen")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: graph hops must stay equi-joins\n$p")
      // hops are key-joins: HashJoin (shuffled or broadcast) present
      assert(p.contains("HashJoin"), s"$q: expected hash equi-joins for hops")
    }
  }

  test("q139 innerunique: left dedup aggregate shares the join key partitioning") {
    val p = plan("q139_kql_text_innerunique")
    // the dedup (partial_min over the row struct) must be present...
    assert(p.contains("partial_min") || p.contains("min("), p)
    // ...and no SortMergeJoin: both sides are user_id-hash-partitioned,
    // so the join is a hash join over the dedup agg's own exchange
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q180 rows_near keyed: per-key window shuffle, never a SinglePartition exchange") {
    val p = plan("q180_kql_text_rows_near")
    assert(!p.contains("SinglePartition"), "keyed rows_near must distribute per key")
  }

  test("q184 memorization audit: scan reads only doc_id and text; join stays equi") {
    val p = plan("q184_memorization_audit")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source"),
      "memorization audit must prune unused document columns")
  }

  test("q185 sparse cosine: posting join is an equi-join on term (no broadcast of the corpus side)") {
    val p = plan("q185_sparse_cosine_topk")
    assert(!p.contains("CartesianProduct"))
  }

  test("blanket sweep: NO CartesianProduct in any of the declared query plans") {
    // Nested-loop joins are allowed only as BROADCAST nested loops
    // (query samples, one-row scalars, codebook cross-scores — all
    // bounded small sides); an unhinted CartesianProduct anywhere is a
    // scale-killer and fails here regardless of which query regressed.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("simple"))
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("kernel-hot queries keep their native expressions — no HOF regression") {
    // The round-15 native-kernel sweep (SURVEY §4): the geo predicate /
    // closest-point / distance scalars and the series fit/period/
    // decompose scalars must lower to ONE native expression per call,
    // never back to interpreted aggregate()/zip_with() lambda folds.
    // The analyzed plan prints custom expressions by lowercase class
    // name, so the kernel names are directly assertable.
    def analyzed(q: String): String =
      SparkEntry.queries(q)(spark, dir).queryExecution.analyzed.toString
    val pins = Seq(
      "q235_kql_text_geo_intersects" -> Seq(
        "geointersects2lines", "geointersectslinewithpolygon",
        "geointersects2polygons", "geoclosestpointonline",
        "geoclosestpointonpolygon", "geodistancepointtoline",
        "geodistancepointtopolygon"),
      "q227_kql_text_pt_to_line" -> Seq("geodistancepointtoline"),
      "q220_kql_text_geo2" -> Seq("geopointinpolygon", "geoshapescalar"),
      "q234_kql_text_strays3" -> Seq("seriesfitline", "seriesfit2lines", "seriesperiods"),
      "q173_kql_text_fit2lines" -> Seq("seriesfit2lines"),
      "q128_kql_text_series_decompose" -> Seq("seriesdecomposekernel"),
      "q136_kql_text_series_fill" -> Seq("seriesfillkernel"))
    for ((q, kernels) <- pins) {
      val p = analyzed(q).toLowerCase(java.util.Locale.ROOT)
      for (k <- kernels)
        assert(p.contains(k), s"$q lost its native kernel '$k'")
      // the shape walks must not re-appear as lambda folds: the only
      // legitimate HOF left in these plans is the input-normalizing
      // transform(cast) — aggregate() lambdas are gone
      assert(!p.contains("aggregate(lambdafunction"),
        s"$q regressed to an interpreted aggregate() fold")
    }
  }

  test("tabular in at data scale: literal isin below the threshold, semi-join above, " +
       "no wide In literal anywhere") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    val resolve: String => DataFrame = {
      case "probe"    => spark.range(0, 600000).selectExpr("id as x")
      case "bigops"   => spark.range(0, 200000).selectExpr("id * 3 as k")
      case "smallops" => spark.range(0, 500).selectExpr("id * 3 as k")
      case other      => throw new IllegalArgumentException(other)
    }
    def wideInSizes(df: DataFrame): Seq[Int] =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.flatMap(_.collect {
          case i: In    => i.list.size
          case s: InSet => s.hset.size
        })
      }.flatten

    // ≤ threshold: stays a literal membership test — no join introduced
    val small = graft.kql.KqlCompiler.compile(
      "probe | where x in (smallops | project k) | summarize n = count()", resolve)
    assert(!small.queryExecution.optimizedPlan.toString.contains("Join"),
      "small operand must stay a literal isin, not a join")
    assert(small.collect()(0).getLong(0) == 500L)

    // 200k-distinct operand (≫ 4096): lowers to a semi/existence join;
    // no In/InSet literal above the threshold may appear in the plan
    val big = graft.kql.KqlCompiler.compile(
      "probe | where x in (bigops | project k) | summarize n = count()", resolve)
    val opt = big.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi") || opt.contains("ExistenceJoin"),
      s"large operand must lower to a semi/existence join:\n$opt")
    val sizes = wideInSizes(big)
    assert(sizes.forall(_ <= graft.kql.KqlCompiler.TabularInLiteralMax),
      s"wide In literal leaked into the plan: sizes=$sizes")
    assert(big.collect()(0).getLong(0) == 200000L)

    // negation at scale: Not(InSubquery) on a nullable key is
    // null-aware and degrades to a BroadcastNestedLoopJoin outside a
    // top-level WHERE conjunct (measured: minutes at sf0.1) — the
    // pinned tier is a single-node catalyst InSet (hash-set probe, no
    // wide In literal, no join)
    val neg = graft.kql.KqlCompiler.compile(
      "probe | where x !in (bigops | project k) | summarize n = count()", resolve)
    val negOpt = neg.queryExecution.optimizedPlan
    val negInLits = negOpt.collect { case p =>
      p.expressions.flatMap(_.collect { case i: In => i.list.size })
    }.flatten
    assert(negInLits.forall(_ <= graft.kql.KqlCompiler.TabularInLiteralMax),
      "no wide In literal in the negated tier")
    assert(!negOpt.toString.contains("Join"),
      "negated large operand must lower to an InSet probe, not a join")
    assert(negOpt.collect { case p =>
      p.expressions.flatMap(_.collect { case s: InSet => s.hset.size })
    }.flatten.exists(_ > graft.kql.KqlCompiler.TabularInLiteralMax),
      "the InSet tier must carry the operand")
    assert(neg.collect()(0).getLong(0) == 400000L)

    // composable contexts: extend (Project) and OR-composed filter
    val composed = graft.kql.KqlCompiler.compile(
      """let big = bigops | project k;
        |probe
        | | extend hit = x in (big)
        | | where x in (big) or x % 2 == 0
        | | summarize n = count(), hits = countif(hit)""".stripMargin, resolve)
    val row = composed.collect()(0)
    assert(row.getLong(0) == 400000L && row.getLong(1) == 200000L)

    // the probe persist is transient: released at compile end (shared
    // across all sites of one operand — probe, cap count, !in full
    // fetch ride ONE cache), never a CacheManager entry that outlives
    // compile() in a long-lived session (round-16 ADVICE item 1)
    assert(org.apache.spark.sql.GraftColumnBridge.cacheManagerIsEmpty(spark),
      "tabular-in probe cache leaked past compile()")
  }

  test("materialize() caches are query-scoped: alive through the first execution, then released") {
    import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
    val resolve: String => DataFrame = {
      case "t" => spark.range(0, 1000).selectExpr("id", "id % 7 as k")
      case o   => throw new IllegalArgumentException(o)
    }
    def emptyEventually(): Boolean = {
      var i = 0
      while (i < 100 && !GraftColumnBridge.cacheManagerIsEmpty(spark)) { Thread.sleep(100); i += 1 }
      GraftColumnBridge.cacheManagerIsEmpty(spark)
    }
    val q = "let m = materialize(t | summarize n = count() by k); m | summarize s = sum(n)"
    val df = graft.kql.KqlCompiler.compile(q, resolve)
    // alive between compile and execution (Kusto scope: one query)
    assert(!GraftColumnBridge.cacheManagerIsEmpty(spark),
      "materialize cache must survive compile for the query's execution")
    assert(df.collect()(0).getLong(0) == 1000L)
    // the QueryExecutionListener releases after the first action that
    // executes the compiled result (async on the listener bus)
    assert(emptyEventually(),
      "materialize cache must release after the first execution of the compiled result")
    // a compiled-but-never-executed generation retires at the NEXT
    // compile (the plan-inspection backstop)
    graft.kql.KqlCompiler.compile(q, resolve)
    assert(!GraftColumnBridge.cacheManagerIsEmpty(spark))
    graft.kql.KqlCompiler.compile("t | summarize n = count()", resolve)
    assert(emptyEventually(),
      "compile-start retirement must release a never-executed generation")
  }

  test("tabular in~ null contract: all three ci tiers drop NULL operand values identically") {
    // A NULL operand value must never become the string "null"
    // (String.valueOf) in one tier while staying SQL NULL in another —
    // semantics must not flip with operand cardinality. Contract: ci
    // tiers DROP null operand values; a null lhs stays three-valued NULL
    // (dropped by where, null in extend).
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val probe = spark.range(0, 100)
      .selectExpr("concat('v', id) as s")                // v0..v99
      .union(spark.sql("select 'null' as s"))            // the literal string "null"
      .union(spark.sql("select cast(null as string) as s"))
    // matching sets identical across tiers: V0..V49 (ci) + a NULL value;
    // the big operand pads with values disjoint from the probe
    val smallOps = spark.range(0, 50).selectExpr("concat('V', id) as k")
      .union(spark.sql("select cast(null as string) as k"))
    val bigOps = smallOps
      .union(spark.range(0, 10000).selectExpr("concat('pad', id) as k"))
    val resolve: String => DataFrame = {
      case "probe" => probe; case "smallops" => smallOps; case "bigops" => bigOps
      case other   => throw new IllegalArgumentException(other)
    }
    def n(kql: String): Long =
      graft.kql.KqlCompiler.compile(kql, resolve).collect()(0).getLong(0)
    // positive: 50 ci matches in BOTH tiers; neither 'null' nor NULL lhs match
    assert(n("probe | where s in~ (smallops | project k) | summarize n = count()") == 50L,
      "literal ci tier")
    assert(n("probe | where s in~ (bigops | project k) | summarize n = count()") == 50L,
      "InSubquery ci tier")
    // negated: v50..v99 + 'null' = 51 in BOTH tiers (NULL lhs stays NULL → dropped)
    assert(n("probe | where s !in~ (smallops | project k) | summarize n = count()") == 51L,
      "negated literal ci tier")
    assert(n("probe | where s !in~ (bigops | project k) | summarize n = count()") == 51L,
      "negated InSet ci tier")
    // Project context: null lhs yields NULL hit (not false-by-stringified-null)
    // in both cardinality tiers
    for (ops <- Seq("smallops", "bigops")) {
      val hits = graft.kql.KqlCompiler.compile(
        s"probe | extend hit = s in~ ($ops | project k) | where isnull(s) | project hit", resolve)
        .collect()
      assert(hits.length == 1 && hits(0).isNullAt(0),
        s"null lhs must stay NULL in the $ops tier")
    }
  }

  test("q245 line lookup: broadcast cell equi-join with exact refine, never a cartesian") {
    val p = plan("q245_kql_text_line_lookup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the covering join must stay an equi-join")
    assert(p.contains("BroadcastExchange"), "the dim line index must broadcast")
    assert(p.contains("__gl_cell"), "the cell key must drive the join")
  }

  test("InferFiltersFromGenerate exclusion is scoped to LLM-query sessions") {
    val excludedKey = "spark.sql.optimizer.excludedRules"
    val rule = "InferFiltersFromGenerate"
    // The LLM query's own session carries the exclusion...
    val q22 = SparkEntry.queries("q22_minhash_lsh")(spark, dir)
    assert(q22.sparkSession.conf.get(excludedKey, "").contains(rule))
    assert(q22.sparkSession ne spark, "LLM queries must run in a child session")
    // ...while the caller's session is untouched: a stored-array explode
    // here still gets the rule's inferred size/notnull filter.
    assert(!spark.conf.get(excludedKey, "").contains(rule),
      "exclusion leaked into the caller's session")
    // (a parquet-backed array — a local relation would constant-fold the
    // inferred filter away before it is observable)
    graft.Tables.embeddings(spark, dir).createOrReplaceTempView("stored_arrays")
    val exploded = spark.sql(
      "SELECT vec_id, x FROM stored_arrays LATERAL VIEW explode(embedding) AS x")
    val opt = exploded.queryExecution.optimizedPlan.toString
    assert(opt.contains("size(embedding"),
      s"rule inactive on the caller's session — no inferred generate filter in:\n$opt")
  }

  test("documents_rp size gate: large inputs read the bare scan (no eager " +
      "full-corpus shuffle+checkpoint), small bench inputs keep the checkpoint") {
    // forced-large path: the corpus must arrive as the pruned parquet
    // scan itself — no LogicalRDD (checkpoint) and no round-robin
    // exchange materializing the whole corpus before the first filter
    val p = LlmQueries.withDocsRp(LlmQueries.docs(spark, dir), small = false)
      .sql(LlmQueries.exactSubstringSql())
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Scan ExistingRDD"),
      "large path must not eagerly checkpoint the corpus")
    assert(!p.contains("Exchange roundrobinpartitioning"),
      "large path must not shuffle the full corpus up front")
    assert(p.contains("Scan parquet") || p.contains("FileScan"), p.take(800))
    // default path on bench-shaped testdata (single-row-group files,
    // Catalyst estimate well under the gate): the eager checkpoint that
    // keeps per-document kernels parallel and CTE re-reads free
    val p2 = plan("q130_exact_substring")
    assert(p2.contains("Scan ExistingRDD"),
      "small path lost the bench-parallelism checkpoint")
  }
}
