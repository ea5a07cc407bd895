package graft.kql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** String-level KQL → DataFrame compiler.
  *
  * Pipeline operators: the grammar the reference emits (SURVEY §2.2
  * Q1-Q8: `count`, `where`, `project[-away|-rename]`, `extend`,
  * `summarize [by]`, `order by`, `top N by`, `take`, `distinct`,
  * `mv-expand`), the multi-table surface dashboards build on (`let`
  * bindings, `join kind=… (sub) on keys`, `union`, `lookup` — a join
  * whose right side is a declared dimension, so it broadcasts), and the
  * dashboard ring: `parse … with` (typed captures from one parse-time
  * regex), `make-series` (gap-filled timeseries over a literal axis),
  * `serialize` + `row_number()`/`prev()`/`next()`/`row_cumsum()` (window
  * functions over an explicit order), `top-nested` (hierarchical top-k),
  * `top-hitters` (exact heavy hitters, Kusto naming), `mv-apply`
  * (per-row array analytics compiled to array lambdas — map-only, never
  * explode + groupBy), and the table generators `range` (distributed
  * axis: session.range + affine projection), `print`, `datatable`.
  * Series functions over make-series output: element-wise
  * `series_add/subtract/multiply/divide` (zip_with/transform lambdas)
  * and the `extend (…) = series_stats(x)` multi-assign form.
  *
  * Scalar surface: comparisons incl. Kusto case-insensitive defaults
  * with `_cs` variants and `=~`/`!~`, and/or/not, `in`, `startswith`/
  * `endswith`/`contains`, `has`/`has_any`/`has_cs`, `matches regex`,
  * `between`, arithmetic, `case`, `iff`, `pack_all`, `pack`, `strcat`,
  * `strcat_delim`, `strcat_array`, `strlen`, `substring`, `indexof`,
  * `split`, `trim`, `replace_string`, `reverse`, `strrep`,
  * `tolower`/`toupper`, `base64_*_tostring`, `extract`, `min_of`/
  * `max_of`, `array_length`, `bin` (numeric and timespan-width over
  * timestamps AND timespan-valued longs) and `bin_at`.
  *
  * Datetime surface (what Grafana panels emit —
  * docker-quickstart/grafana/dashboards/kafka-connect-metrics.json:43,120):
  * `datetime(...)` literals, `now()` (fixed per query, injectable),
  * `ago()` with signed d/h/m/s/ms timespans, timespan literals in
  * expression position with Kusto's algebra (`ts + 1h`,
  * `datetime − datetime` → timespan; timespans are epoch-micros longs
  * engine-wide), `between (lo .. hi)` over datetimes,
  * `startofday/startofweek/startofmonth/startofyear` (Sunday weeks, as
  * Kusto), `todatetime`, `getyear/getmonth/dayofmonth/hourofday`.
  *
  * Kusto `dynamic`: `parse_json`/`todynamic` + postfix `.path` and
  * `[index]` access, lowered to `get_json_object` (reference need:
  * dynamic columns in docker-quickstart/connector-config/
  * create-table.kql:44-54).
  *
  * Aggregates: `count`, `sum`, `avg`, `min`, `max`, `dcount`,
  * `arg_max`/`arg_min`, their conditional `…if` forms, `percentile`
  * (exact interpolated), `stdev`/`variance`, `make_set` (sorted)/
  * `make_list`.
  *
  * A user of the reference interacts with queries as KQL TEXT (emitted
  * validation probes, Grafana dashboard panels, quickstart samples);
  * this compiler runs that text natively on Spark: every operator lowers
  * to the same Catalyst plan the [[Kql]] combinators build, so pushdown,
  * pruning, and whole-stage codegen all apply — nothing is interpreted
  * per row (reference emission sites: KustoSinkTask.java:46,
  * it/KustoSinkIT.java:269-271, grafana dashboards, create-table.kql).
  *
  * KQL semantics kept: `order by` defaults DESCENDING (KQL's default),
  * `top n by c` orders descending unless `asc` given, `count` yields a
  * column named `Count`, unnamed summarize aggregates get `<fn>_` names.
  * Scale: `top` lowers to orderBy+limit = TakeOrderedAndProject (never a
  * global sort); summarize is a partial+final hash aggregate.
  */
object KqlCompiler {

  /** Largest tabular-`in` operand lowered to a literal `isin`. Below
    * this the literal `In` stays pushdown-friendly and the plan tiny;
    * above it membership lowers to an `InSubquery` semi-join and no
    * values are collected to the driver (the 1M Kusto cap is enforced
    * with a capped count instead). */
  val TabularInLiteralMax: Int = 4096

  /** Query-duration lifecycle for `materialize()` caches (round 17;
    * hardened round 18 per the round-17 advisor).
    *
    * Kusto scopes a materialized subquery to ONE query execution. Here
    * the heavy consumers are the compile-time graph/BFS loops (dozens of
    * actions during compile) and exec-time multi-references in the final
    * plan — so the cache must live from compile through the execution of
    * EVERY output of the compiled query, then release. A
    * QueryExecutionListener watches for executed plans CONTAINING each
    * compile output (`sameResult` subtree match — callers wrap results
    * in writes/limits), ticks that output off, and unpersists the
    * compile's materialize frames once the LAST output has executed —
    * so a multi-output query (`fork`/`facet by`) reads the materialized
    * subquery once across all its result tables, Kusto's evaluate-once
    * contract (round-17 advisor item 2). Ordering (advisor item 1): the
    * generation joins `pendingMat` BEFORE the listener registers, so an
    * execution landing in the registration window can always retire it.
    * Backstops keep this leak-free: a compile that THROWS releases in
    * its finally, and each compile START retires any still-pending
    * generation of the SAME session — or of a stopped session — so at
    * most one query's materialize set is alive per session, and one
    * session's compile can never unpersist another live session's cache
    * mid-query (advisor item 3). */
  private final case class MatGen(
      frames: Seq[DataFrame],
      session: org.apache.spark.sql.SparkSession,
      remaining: java.util.Set[Integer],
      listenerRef: java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.util.QueryExecutionListener])
  private val pendingMat =
    java.util.concurrent.ConcurrentHashMap.newKeySet[MatGen]()
  private def retireMat(g: MatGen): Unit = if (pendingMat.remove(g)) {
    // both steps tolerate a stopped SparkContext: a pending generation
    // may belong to a session that has since shut down (e.g. another
    // test suite's), and retirement must never fail a fresh compile
    try g.frames.foreach(_.unpersist(blocking = false))
    catch { case scala.util.control.NonFatal(_) => () }
    try Option(g.listenerRef.get).foreach(g.session.listenerManager.unregister)
    catch { case scala.util.control.NonFatal(_) => () }
  }
  private def sessionStopped(s: org.apache.spark.sql.SparkSession): Boolean =
    try s.sparkContext.isStopped catch { case scala.util.control.NonFatal(_) => true }
  /** Retire pending generations owned by `session` (the compiling
    * session's previous never-executed query) plus any generation whose
    * session has stopped. `None` (no active session resolvable) retires
    * only dead-session generations — a concurrent session's live cache
    * is never touched. */
  private[kql] def retirePendingMaterialize(
      session: Option[org.apache.spark.sql.SparkSession]): Unit = {
    import scala.jdk.CollectionConverters._
    pendingMat.asScala.toList
      .filter(g => session.contains(g.session) || sessionStopped(g.session))
      .foreach(retireMat)
  }
  private def armMaterializeRelease(frames: Seq[DataFrame], results: Seq[DataFrame]): Unit = {
    if (frames.isEmpty) return
    val session = frames.head.sparkSession
    // same-session backstop, independent of the caller's thread-local:
    // compile() retires via getActiveSession, which is a no-op on a
    // thread with no active session — here the resolved frames name the
    // session directly, so a previous compiled-but-never-executed
    // query's caches are retired before this generation arms (at most
    // one materialize set alive per session, on every code path)
    retirePendingMaterialize(Some(session))
    val targets = results.map(_.queryExecution.analyzed)
    val remaining = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    targets.indices.foreach(i => remaining.add(i))
    val listenerRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.util.QueryExecutionListener]()
    val gen = MatGen(frames, session, remaining, listenerRef)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def tick(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        val hit =
          try targets.zipWithIndex.collect {
            case (t, i) if qe.analyzed.exists(_.sameResult(t)) => i
          } catch { case scala.util.control.NonFatal(_) => Seq.empty[Int] }
        if (hit.nonEmpty) {
          hit.foreach(i => remaining.remove(Integer.valueOf(i)))
          if (remaining.isEmpty) retireMat(gen)
        }
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = tick(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = tick(qe)
    }
    listenerRef.set(listener)
    pendingMat.add(gen) // visible to retirement BEFORE executions can match
    session.listenerManager.register(listener)
  }

  /** Compile `kql` — an optional `let name = Table | op…;` prologue
    * followed by the main pipeline "Table | op | op…" — resolving table
    * names through `resolve` (with `let` bindings shadowing tables). */
  def compile(kql: String, resolve: String => DataFrame): DataFrame =
    compile(kql, resolve, java.time.Instant.now())

  /** Compile with an explicit query timestamp: `now()` and `ago(...)`
    * evaluate against `now` — Kusto semantics (now() is FIXED for the
    * duration of one query, not re-evaluated per row), and the hook that
    * makes time-relative queries deterministic for tests/oracles. */
  def compile(kql: String, resolve: String => DataFrame, now: java.time.Instant): DataFrame =
    compileWith(kql, resolve, now, None, localGraph = true)((_, df) => (Seq(df), df))

  /** The one compile lifecycle behind every entry point: retire the
    * session's previous never-executed materialize generation (on
    * `spark`, else the thread's active session), parse the whole text
    * with `spark` as the session hint, log the warnings, and arm the
    * query-duration release of the materialized frames on the results
    * `outputs` picks; `outputs` also gives the value returned. The
    * compile's probe caches are always released, and the materialized
    * frames too when the compile fails. */
  private def compileWith[A](kql: String, resolve: String => DataFrame,
                             now: java.time.Instant,
                             spark: Option[org.apache.spark.sql.SparkSession],
                             localGraph: Boolean)(
      outputs: (Parser, DataFrame) => (Seq[DataFrame], A)): A = {
    retirePendingMaterialize(spark.orElse(org.apache.spark.sql.SparkSession.getActiveSession))
    val p = new Parser(Lexer.tokens(kql), resolve, now, spark, localGraph)
    var ok = false
    try {
      val df = p.statements()
      p.expectEnd()
      logWarnings(p)
      val (armed, out) = outputs(p, df)
      armMaterializeRelease(p.materializedFrames.toSeq, armed)
      ok = true
      out
    } finally {
      p.releaseProbeCaches()
      if (!ok) p.materializedFrames.foreach(_.unpersist(blocking = false))
    }
  }

  private val compileLog = org.slf4j.LoggerFactory.getLogger(getClass)
  private def logWarnings(p: Parser): Unit =
    p.warnings.foreach(w => compileLog.warn(s"KQL compile: $w"))

  /** Compile and also return the compile-time warnings (scale smells the
    * compiler detected — e.g. an unkeyed `scan`/`serialize` lowering to
    * one global partition). The plain `compile` overloads log the same
    * warnings through slf4j. */
  def compileWithWarnings(kql: String, resolve: String => DataFrame,
                          now: java.time.Instant = java.time.Instant.now(),
                          spark: Option[org.apache.spark.sql.SparkSession] = None)
      : (DataFrame, Seq[String]) =
    compileWith(kql, resolve, now, spark, localGraph = true)(
      (p, df) => (Seq(df), (df, p.warnings.toSeq)))

  /** Compile with an explicit session — required only when the query
    * STARTS from a table generator (`range`/`print`/`datatable`) and no
    * active/default session can be assumed (e.g. concurrent test
    * suites); table-rooted queries never need it. `localGraph = false`
    * pins the graph operators (components, shortest paths) to their
    * distributed loops instead of the size-gated driver-local kernels —
    * the parity reference. */
  def compile(kql: String, resolve: String => DataFrame, now: java.time.Instant,
              spark: org.apache.spark.sql.SparkSession,
              localGraph: Boolean = true): DataFrame =
    compileWith(kql, resolve, now, Some(spark), localGraph)((_, df) => (Seq(df), df))

  /** Convenience: resolve tables as session temp views. */
  def compile(spark: org.apache.spark.sql.SparkSession, kql: String): DataFrame =
    compile(kql, spark.table(_), java.time.Instant.now(), spark)

  /** Compile a query that may end in a multi-result operator (`fork`,
    * `facet by`), returning every named result table in encounter order —
    * Kusto's multiple-result-set contract, which a single DataFrame can't
    * carry. Fork legs come back under their given (or `fork_N`) names,
    * facet tables under their column names (+ `facet_with` for the
    * optional `with` leg). A query with no multi-result operator returns
    * one entry, `"result"`. */
  def compileMulti(kql: String, resolve: String => DataFrame,
                   now: java.time.Instant = java.time.Instant.now(),
                   spark: Option[org.apache.spark.sql.SparkSession] = None)
      : Seq[(String, DataFrame)] =
    compileWith(kql, resolve, now, spark, localGraph = true) { (p, df) =>
      val out = if (p.multiOut.isEmpty) Seq("result" -> df) else p.multiOut.toSeq
      (out.map(_._2), out)
    }

  // ------------------------------------------------------------- lexer

  private final case class Tok(kind: String, text: String) // kind: id|num|str|sym
  private object Lexer {
    private val symbols = List("==", "!=", "=~", "!~", "=>", "<=", ">=", "..", ".", "|", "(", ")", ",",
      ";", "=", "<", ">", "+", "-", "*", "/", "%", ":", "[", "]", "{", "}", "!between", "!in", "~", "$")
    def tokens(s: String): Vector[Tok] = {
      val out = Vector.newBuilder[Tok]
      var i = 0
      while (i < s.length) {
        val c = s(i)
        if (c.isWhitespace) i += 1
        else if (c.isLetter || c == '_') {
          val j = s.indexWhere(ch => !ch.isLetterOrDigit && ch != '_', i)
          val end = if (j < 0) s.length else j
          out += Tok("id", s.substring(i, end)); i = end
        } else if (c.isDigit || (c == '.' && i + 1 < s.length && s(i + 1).isDigit)) {
          // at most one decimal point, and never consume the range op `..`
          var j = i; var seenDot = false; var done = false
          while (j < s.length && !done) {
            val ch = s(j)
            if (ch.isDigit) j += 1
            else if (ch == '.' && !seenDot && j + 1 < s.length && s(j + 1).isDigit) { seenDot = true; j += 1 }
            else done = true
          }
          out += Tok("num", s.substring(i, j)); i = j
        } else if (c == '\'' || c == '"') {
          val sb = new StringBuilder; var j = i + 1
          while (j < s.length && s(j) != c) {
            if (s(j) == '\\' && j + 1 < s.length) { sb += s(j + 1); j += 2 }
            else { sb += s(j); j += 1 }
          }
          if (j >= s.length) throw new KqlParseException(s"unterminated string at offset $i")
          out += Tok("str", sb.toString); i = j + 1
        } else if (c == '@' && i + 1 < s.length && (s(i + 1) == '\'' || s(i + 1) == '"')) {
          // Kusto verbatim string: @'...' / @"..." — NO backslash
          // escaping (the regex-friendly form); the only escape is
          // quote doubling ('' → ')
          val q = s(i + 1); val sb = new StringBuilder; var j = i + 2
          var closed = false
          while (j < s.length && !closed) {
            if (s(j) == q) {
              if (j + 1 < s.length && s(j + 1) == q) { sb += q; j += 2 }
              else { closed = true; j += 1 }
            } else { sb += s(j); j += 1 }
          }
          if (!closed) throw new KqlParseException(s"unterminated verbatim string at offset $i")
          out += Tok("str", sb.toString); i = j
        } else symbols.find(sym => s.startsWith(sym, i)) match {
          case Some(sym) => out += Tok("sym", sym); i += sym.length
          case None => throw new KqlParseException(s"unexpected character '$c' at offset $i")
        }
      }
      out.result()
    }
  }

  final class KqlParseException(msg: String) extends IllegalArgumentException(msg)

  // ------------------------------------------------------------ parser

  /** Columns are built lazily against the operator's input DataFrame so
    * `pack_all()` can expand to that exact schema. */
  private type ColB = DataFrame => Column

  private final class Parser(toks: Vector[Tok], resolve: String => DataFrame,
                             now: java.time.Instant,
                             sessionHint: Option[org.apache.spark.sql.SparkSession],
                             localGraph: Boolean = true) {
    private var pos = 0
    private val lets = scala.collection.mutable.Map.empty[String, DataFrame]
    // per-compile memo of tabular-`in` operand probes, keyed by frame
    // IDENTITY (let-bound operands reused by several sites share one
    // probe job instead of re-running distinct+collect per site)
    private val tabularInProbe =
      new scala.collection.mutable.AnyRefMap[DataFrame, Array[Any]]()
    private val tabularInFullFetch =
      new scala.collection.mutable.AnyRefMap[DataFrame, Array[Any]]()
    /** Memoized (capped distinct count, operand-has-null) — ONE job over
      * the persisted distinct serves both the Kusto 1M-cap check (the
      * positive tier) and the null-freeness proof the `!in`
      * common-subexpression rewrite needs (the negated tier). */
    private val tabularInStats =
      new scala.collection.mutable.AnyRefMap[DataFrame, (Long, Boolean)]()
    private def tabularStats(sub: DataFrame, rawDistinct: DataFrame): (Long, Boolean) =
      tabularInStats.getOrElseUpdate(sub, {
        val c = rawDistinct.col(rawDistinct.columns.head)
        val r = rawDistinct.limit(1000001)
          .agg(count(lit(1)), max(c.isNull.cast("int"))).head()
        (r.getLong(0), !r.isNullAt(1) && r.getInt(1) == 1)
      })
    private val tabularInFrame =
      scala.collection.mutable.Map.empty[(DataFrame, Boolean), DataFrame]

    /** Membership common-subexpression reuse across pipeline stages
      * (optimization round 21, guide §2.2/§3 — the q242 shape): when an
      * earlier `extend` already computed `lhs in (operand)` as a column
      * that is still in scope, a later site on the SAME operand and a
      * semantically-equal lhs reuses that boolean instead of planting a
      * second InSubquery — Spark plans each InSubquery occurrence as
      * its own existence join, so the reuse removes one whole broadcast
      * join + duplicate operand aggregate per extra site. The match is
      * exact: an analyzed-plan Project alias whose child semanticEquals
      * the InSubquery this site would build (canonicalization makes the
      * comparison exprId-robust) and whose attribute id survives to the
      * current output (an overwritten column gets a fresh id and
      * correctly misses). Returns the live attribute as a Column. */
    private def membershipReuse(df: DataFrame, lhs: Column,
                                subSide: DataFrame): Option[Column] = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, InSubquery, ListQuery}
      import org.apache.spark.sql.catalyst.plans.logical.Project
      import org.apache.spark.sql.GraftColumnBridge
      try {
        // resolve the lhs against df so the comparison sees the same
        // AttributeReferences the analyzed plan carries
        val resolvedLhs = df.select(lhs).queryExecution.analyzed match {
          case p: Project => p.projectList.head match {
            case a: Alias => a.child
            case other => other
          }
          case _ => return None
        }
        val subPlan = subSide.queryExecution.analyzed
        val analyzed = df.queryExecution.analyzed
        val outIds = analyzed.outputSet.map(_.exprId).toSet
        // structural match, not whole-expression semanticEquals: the
        // analyzer decorates ListQuery (childOutputs etc.), so compare
        // the value expression and the subquery PLAN (sameResult —
        // canonical, exprId-robust) separately
        val hits = analyzed.collect { case p: Project =>
          p.projectList.collect {
            case a: Alias if outIds.contains(a.exprId) => a.child match {
              case InSubquery(Seq(v), lq: ListQuery)
                  if v.semanticEquals(resolvedLhs) &&
                    lq.plan.sameResult(subPlan) => Some(a.toAttribute)
              case _ => None
            }
          }.flatten
        }.flatten
        hits.headOption.map(GraftColumnBridge.column(_))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    /** Probe frames persisted during THIS compile. Released exactly once
      * by the compile entry points (try/finally) after the final plan is
      * built: early per-site unpersist made a later `!in` on the same
      * operand re-run the distinct uncached, while no unpersist at all
      * leaks CacheManager entries for the session's lifetime
      * (round-16 ADVICE item 1). */
    private val probePersisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private[kql] def releaseProbeCaches(): Unit = {
      probePersisted.foreach(_.unpersist(blocking = false))
      probePersisted.clear()
    }
    /** materialize() frames persisted by THIS compile — handed to the
      * entry points, which arm the query-duration release listener
      * (success path) or unpersist immediately (compile failure). */
    private[kql] val materializedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** Sort columns of the most recent `order by`/`sort by`/`top` — the
      * row order `serialize`'s window functions (row_number/prev/next)
      * run over. Kusto lets serialize ride the "natural" order; a
      * distributed engine has no stable natural order, so this engine
      * requires an explicit preceding sort (loud error otherwise). */
    private var lastOrder: Option[List[ColB]] = None
    /** `make-graph` output: a graph is a (edges, nodes) PAIR, which a
      * single DataFrame can't carry — it parks here until the adjacent
      * `graph-match`/`graph-to-table` consumes it (Kusto's own rule:
      * make-graph must be followed by a graph operator). */
    private final case class GraphCtx(edges: DataFrame, nodes: DataFrame,
                                      srcCol: String, dstCol: String, idCol: String,
                                      derivedNodes: Boolean = false)
    private var pendingGraph: Option[GraphCtx] = None

    /** True when `df` is a checkpoint/cache-backed frame (a
      * materialize()d let, a LogicalRDD) reached through only narrow
      * ops — re-caching such a frame costs one redundant block
      * write+read per execution for zero recompute saved. */
    private def cacheBacked(df: DataFrame): Boolean = {
      import org.apache.spark.sql.catalyst.plans.logical.{Project, Filter => LFilter, SubqueryAlias, LogicalPlan}
      import org.apache.spark.sql.GraftColumnBridge
      def ok(p: LogicalPlan): Boolean = p match {
        case pr: Project => ok(pr.child)
        case f: LFilter => ok(f.child)
        case s: SubqueryAlias => ok(s.child)
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case other => GraftColumnBridge.isCachedPlan(df.sparkSession, other)
      }
      try ok(df.queryExecution.analyzed)
      catch { case scala.util.control.NonFatal(_) => false }
    }

    /** Shared lowering for `graph-match` / `graph-shortest-paths`: parse
      * pattern + where + project, build ONE join chain per admissible
      * length combination (each hop = one hash equi-join of the edge
      * table on the node id), bind node/edge aliases as struct columns,
      * and — for shortest-paths — winnow to the minimum-hop path(s) per
      * endpoint pair with ONE window over (src, dst). `shortest` is
      * None for graph-match, Some("any"|"all") for shortest-paths. */
    private def runGraphPattern(g: GraphCtx, shortest: Option[String]): DataFrame = {
      // ---- pattern ----
      def nodeRef(): String = { expect("("); val n = ident(); expect(")"); n }
      final case class PHop(edgeAlias: String, forward: Boolean,
                            range: Option[(Int, Int)], to: String)
      val n0 = nodeRef()
      val hops = scala.collection.mutable.Buffer.empty[PHop]
      while (peekIs("-") || peekIs("<")) {
        val forward = !peekIs("<")
        if (forward) { expect("-"); expect("[") }
        else { expect("<"); expect("-"); expect("[") }
        val ea = ident()
        val range =
          if (peekIs("*")) {
            expect("*"); val lo = number(); expect(".."); val hi = number()
            if (lo < 1 || hi < lo) throw new KqlParseException(
              s"graph pattern: variable-length bounds must satisfy 1 <= lo <= hi, got $lo..$hi")
            Some((lo, hi))
          } else None
        expect("]"); expect("-")
        if (forward) expect(">")
        hops += PHop(ea, forward, range, to = nodeRef())
      }
      if (hops.isEmpty)
        throw new KqlParseException("graph pattern needs at least one edge")
      val edgeAliases = hops.map(_.edgeAlias)
      if (edgeAliases.distinct.size != edgeAliases.size)
        throw new KqlParseException("graph pattern: edge aliases must be distinct")
      // ---- where / project (parsed ONCE; applied per chain) ----
      val whereB = if (peekIs("where")) { expect("where"); Some(expr()) } else None
      expect("project")
      val projs = sepBy1(() => { val n = ident(); expect("="); (n, expr()) })
      // ---- frontier-BFS fast path for shortest-paths over a single
      // variable-length hop starting at length 1: chain enumeration's
      // intermediate cardinality is the number of WALKS (degree^k
      // through hub nodes); BFS settles each endpoint pair at its first
      // round, so intermediates are bounded by min-length paths. Falls
      // back to chains (None) when a where conjunct touches the edge
      // alias — there min length depends on path content. ----
      if (shortest.isDefined && hops.length == 1 && hops.head.range.exists(_._1 == 1)) {
        val h = hops.head
        bfsShortestPaths(g, n0, h.to, h.edgeAlias, h.forward,
            h.range.get._2, whereB, projs, shortest.get) match {
          case Some(out) => return out
          case None => ()
        }
      }
      // ---- lowering ----
      val nodeAliases: Seq[String] = n0 +: hops.map(_.to).toSeq
      val lengthChoices: Seq[Seq[Int]] =
        hops.map(h => h.range.map { case (lo, hi) => (lo to hi).toSeq }
          .getOrElse(Seq(1))).toSeq
      val chains = lengthChoices.foldLeft(Seq(Seq.empty[Int])) {
        (acc, ls) => for (a <- acc; l <- ls) yield a :+ l
      }
      if (chains.size > 32) throw new KqlParseException(
        s"graph pattern: variable-length pattern expands to ${chains.size} join chains (cap 32)")
      // NOT cached per hop reference on purpose (round 21): a query-
      // duration persist of the edge frame was A/B-refuted — at bench
      // scale the columnar cache write+read costs MORE than the per-hop
      // rescans it saves (interleaved PerfAB: q142 1.15→1.54 s median,
      // q143 2.02→2.18 s with the cache ON), and a user who wants the
      // reuse at data scale writes `materialize(...)` exactly as in
      // Kusto (the q146 BFS path then reads that cache directly).
      def nodeF(p: Int) = g.nodes.select(
        struct(g.nodes.columns.toSeq.map(g.nodes(_)): _*).as(s"__gm_n_$p"),
        g.nodes(g.idCol).as(s"__gm_id_$p"))
      def edgeF(tag: String) = g.edges.select(
        struct(g.edges.columns.toSeq.map(g.edges(_)): _*).as(s"__gm_e_$tag"),
        g.edges(g.srcCol).as(s"__gm_s_$tag"),
        g.edges(g.dstCol).as(s"__gm_d_$tag"))
      def withBindsG[A](bs: Map[String, Column])(body: => A): A = {
        val saved = elemBinds
        elemBinds = elemBinds ++ bs
        try body finally elemBinds = saved
      }
      // derived nodes (no `with` clause): the node table is exactly the
      // endpoint set, so every per-position node join is an identity —
      // chains start AT the first hop's edge table and each position's
      // node struct is just its id column (the bfsShortestPaths round-18
      // fast path, applied to the chain lowering): hops+1 joins and the
      // endpoint-distinct drop out of every chain
      val perChain = chains.map { lens =>
        var f: DataFrame = if (g.derivedNodes) null else nodeF(0)
        var tailId = "__gm_id_0"
        for ((hop, hi) <- hops.zipWithIndex) {
          for (c <- 0 until lens(hi)) {
            val tag = s"${hi}_$c"
            val (inCol, outCol) =
              if (hop.forward) (s"__gm_s_$tag", s"__gm_d_$tag")
              else (s"__gm_d_$tag", s"__gm_s_$tag")
            f =
              if (f == null)
                // null endpoints can't bind a node position: the
                // explicit-`with` path drops them via its node joins;
                // mirror that at the chain start (interior nulls already
                // drop in each subsequent equi-join)
                edgeF(tag).filter(col(inCol).isNotNull)
                  .withColumn("__gm_id_0", col(inCol))
                  .withColumn("__gm_n_0", struct(col(inCol).as(g.idCol)))
              else f.join(edgeF(tag), col(tailId) === col(inCol))
            tailId = outCol
          }
          if (g.derivedNodes) {
            // ... and at the final position, which no further join guards
            val fg = if (hi == hops.length - 1) f.filter(col(tailId).isNotNull) else f
            f = fg.withColumn(s"__gm_id_${hi + 1}", col(tailId))
              .withColumn(s"__gm_n_${hi + 1}", struct(col(tailId).as(g.idCol)))
          } else {
            f = f.join(nodeF(hi + 1), col(tailId) === col(s"__gm_id_${hi + 1}"))
          }
          tailId = s"__gm_id_${hi + 1}"
        }
        // repeated node alias → same-node constraint
        nodeAliases.zipWithIndex.groupBy(_._1).values.foreach { occ =>
          occ.map(_._2).sliding(2).foreach {
            case Seq(p1, p2) => f = f.filter(col(s"__gm_id_$p1") === col(s"__gm_id_$p2"))
            case _ => ()
          }
        }
        val binds: Map[String, Column] =
          nodeAliases.zipWithIndex.groupBy(_._1).map {
            case (a, occ) => a -> col(s"__gm_n_${occ.head._2}")
          } ++
          hops.zipWithIndex.map { case (h, i) =>
            h.edgeAlias -> (h.range match {
              case None => col(s"__gm_e_${i}_0")
              case Some(_) => array((0 until lens(i)).map(c => col(s"__gm_e_${i}_$c")): _*)
            })
          }
        // shortest-paths internals: endpoint pair, hop count, and the
        // full path signature (edge endpoint sequence + edge payloads)
        // for the pinned deterministic output=any pick
        val edgeTags = for {
          (_, hi) <- hops.zipWithIndex.toSeq; c <- 0 until lens(hi)
        } yield s"${hi}_$c"
        val internals =
          if (shortest.isEmpty) Nil
          else Seq(
            col("__gm_id_0").cast("string").as("__gsp_src"),
            col(s"__gm_id_${hops.length}").cast("string").as("__gsp_dst"),
            lit(lens.sum.toLong).as("__gsp_hops"),
            concat_ws("/", edgeTags.flatMap(t =>
              Seq(col(s"__gm_s_$t").cast("string"), col(s"__gm_d_$t").cast("string"))): _*)
              .as("__gsp_key"),
            to_json(struct(edgeTags.map(t => col(s"__gm_e_$t").as(s"e_$t")): _*))
              .as("__gsp_ekey"))
        withBindsG(binds) {
          val f1 = whereB.map(w => f.filter(w(f))).getOrElse(f)
          f1.select(projs.map { case (n, e) => e(f1).as(n) } ++ internals: _*)
        }
      }
      val u = perChain.reduce(_ unionByName _)
      shortest match {
        case None => u
        case Some(mode) =>
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("__gsp_src"), col("__gsp_dst"))
          val winnowed =
            if (mode == "any")
              u.withColumn("__gsp_rn", row_number().over(w.orderBy(
                  col("__gsp_hops").asc, col("__gsp_key").asc, col("__gsp_ekey").asc)))
                .where(col("__gsp_rn") === 1)
            else
              u.withColumn("__gsp_min", min(col("__gsp_hops")).over(w))
                .where(col("__gsp_hops") === col("__gsp_min"))
          winnowed.select(projs.map { case (n, _) => col(n) }: _*)
      }
    }

    /** Frontier-BFS lowering for `graph-shortest-paths (a)-[e*1..k]->(b)`
      * (single variable-length hop). Iterates k rounds of ONE
      * edges⋈frontier hash equi-join each, settling every (source,
      * node) pair at the first round that reaches it — the q41/PageRank
      * loop discipline (localCheckpoint per round cuts lineage, driver
      * sees only an emptiness probe). Intermediate cardinality is
      * bounded by minimum-length paths (output=any: by endpoint PAIRS),
      * never by walks, so hub-heavy graphs at 100× scale stay linear in
      * reachable pairs per round.
      *
      * The where clause splits into Catalyst conjuncts: source-only
      * conjuncts prefilter the BFS sources (a pinned single source runs
      * ONE BFS, not |V|); endpoint conjuncts are constant per (src,dst)
      * pair, so applying them after the settle is identical to the
      * chain lowering's filter-before-winnow; a conjunct referencing
      * the edge alias makes minimum length depend on path content —
      * those return None and ride the chain lowering unchanged.
      *
      * output=any pins the per-hop (src, dst, edge-JSON) lexicographic
      * minimum path. The per-round greedy minimum per (src, node) is
      * the global minimum because every hop contributes a fixed-width
      * triple, making the array ordering prefix-decomposable: the best
      * full path through a node always extends that node's best prefix. */
    private def bfsShortestPaths(
        g: GraphCtx, aAlias: String, bAlias: String, eAlias: String,
        forward: Boolean, maxHops: Int,
        whereB: Option[ColB], projs: List[(String, ColB)],
        mode: String): Option[DataFrame] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression => CExpr}
      import org.apache.spark.sql.GraftColumnBridge
      def withBinds[A](bs: Map[String, Column])(body: => A): A = {
        val saved = elemBinds
        elemBinds = elemBinds ++ bs
        try body finally elemBinds = saved
      }
      val nCols = g.nodes.columns.toSeq
      val eCols = g.edges.columns.toSeq
      // probe df binding the three aliases with their REAL types, so the
      // builder's type-directed paths (native struct vs dynamic JSON)
      // choose exactly as they will at execution; plan/schema only,
      // never executed.
      val probe = g.nodes
        .select(struct(nCols.map(g.nodes(_)): _*).as("__bfs_ca"),
                struct(nCols.map(g.nodes(_)): _*).as("__bfs_cb"))
        .limit(1)
        .crossJoin(g.edges
          .select(array(struct(eCols.map(g.edges(_)): _*)).as("__bfs_ce"))
          .limit(1))
      def conjuncts(e: CExpr): Seq[CExpr] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      def refNames(e: CExpr): Set[String] = e.collect {
        case a: AttributeReference => Seq(a.name)
        case u: UnresolvedAttribute => u.nameParts.take(1)
      }.flatten.toSet
      val markers = Set("__bfs_ca", "__bfs_cb", "__bfs_ce")
      val classified: Option[(Seq[CExpr], Seq[CExpr])] = whereB match {
        case None => Some((Nil, Nil))
        case Some(w) =>
          try {
            val cond = withBinds(Map(
                aAlias -> probe("__bfs_ca"), bAlias -> probe("__bfs_cb"),
                eAlias -> probe("__bfs_ce"))) {
              GraftColumnBridge.catalystExpression(w(probe))
            }
            val cs = conjuncts(cond)
            val refs = cs.map(refNames)
            if (refs.exists(r => r.contains("__bfs_ce") || !r.subsetOf(markers))) None
            else {
              val (aOnly, withB) = cs.zip(refs)
                .partition { case (_, r) => !r.contains("__bfs_cb") }
              Some((aOnly.map(_._1), withB.map(_._1)))
            }
          } catch { case scala.util.control.NonFatal(_) => None }
      }
      classified.map { case (aConj, pairConj) =>
        def rehost(e: CExpr, m: Map[String, Column]): Column =
          GraftColumnBridge.column(e.transform {
            case a: AttributeReference if m.contains(a.name) =>
              GraftColumnBridge.catalystExpression(m(a.name))
            case u: UnresolvedAttribute
                if u.nameParts.length == 1 && m.contains(u.nameParts.head) =>
              GraftColumnBridge.catalystExpression(m(u.nameParts.head))
          })
        // the edge view feeds one join per round and the node view two
        // scans (sources + endpoint bind). QUERY-DURATION PERSIST via
        // the materialize() lifecycle (round 18): columnar cache reads
        // beat row-block localCheckpoints for a loop that scans the edge
        // list every level (r17 interleaved A/B measured the lazy-
        // checkpoint variant +2.1 s on q146, and the committed idle
        // number never recovered the r16 persist-era 2.60 s), while the
        // MatGen listener retirement keeps it leak-free — the caches
        // serve the compile-time loop actions AND the endpoint bind in
        // the executed plan, then unpersist after the query's first
        // execution (or at the next compile for never-executed plans),
        // never a session-lifetime CacheManager entry (the r16 finding
        // that forced the checkpoint detour).
        def loopCache(df: DataFrame): DataFrame = {
          val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          materializedFrames += c
          c
        }
        val edges = {
          val (inC, outC) = if (forward) (g.srcCol, g.dstCol) else (g.dstCol, g.srcCol)
          // __bfs_ekey: a cheap deterministic edge encoding for the
          // output=any tie-break (null-marked field concat, NOT to_json -
          // Jackson per joined row measured ~10 us/row, the dominant CPU
          // of the q146 levels; the node sequence (src, out) still
          // dominates the sig ordering, ekey only picks among parallel
          // edges on the same endpoint pair)
          val proj = g.edges.select(
            struct(eCols.map(g.edges(_)): _*).as("__bfs_edge"),
            g.edges(inC).as("__bfs_in"),
            g.edges(outC).as("__bfs_out"),
            concat_ws("\u0001",
              eCols.map(c => coalesce(g.edges(c).cast("string"), lit("\u0002"))): _*)
              .as("__bfs_ekey"))
          // when the edge source is already cache-backed (a materialize()d
          // let, query-duration persist) and only narrow ops sit above it,
          // the loop reads THAT cache directly: a second checkpoint of the
          // same rows costs one redundant block write+read per execution
          // for zero recompute saved
          if (cacheBacked(g.edges)) proj else loopCache(proj)
        }
        // derived nodes (no `with` clause): the node table is NOTHING
        // but the endpoint set, so skip materializing it entirely —
        // sources are a filtered distinct over the edge IN side (the
        // source filter pushes BELOW the distinct, so a pinned single
        // source never pays a full endpoint dedup; a source appearing
        // only on the out side has no outgoing edges and yields no
        // *1..k paths either way), and the endpoint bind is an identity
        // struct over the reached id (no join). With an explicit `with`
        // node table both sides must consult it: loop-cache it.
        val nodes =
          if (g.derivedNodes || cacheBacked(g.nodes)) g.nodes
          else loopCache(g.nodes)
        // a frontier/settled side known (from the round's count) to be
        // small broadcasts — the single-source BFS never shuffles the
        // full edge table into new partitionings per round
        val BcastRows = 100000L
        def maybeBcast(d: DataFrame, n: Long): DataFrame =
          if (n <= BcastRows) broadcast(d) else d
        val src0 =
          if (g.derivedNodes) {
            // from g.edges, NOT the shared `edges` projection — the
            // frontier join below joins sources against that projection,
            // and two selects over one Dataset trip Spark's ambiguous-
            // self-join detection
            val inC = if (forward) g.srcCol else g.dstCol
            // null endpoints bind no node with an explicit `with` table
            // (dropped by its equi-join); mirror that here
            g.edges.select(
              g.edges(inC).as("__bfs_src"),
              struct(g.edges(inC).as(g.idCol)).as("__bfs_a"))
              .filter(col("__bfs_src").isNotNull)
          } else nodes.select(
            nodes(g.idCol).as("__bfs_src"),
            struct(nCols.map(nodes(_)): _*).as("__bfs_a"))
        val sources = {
          val filtered = aConj.foldLeft(src0)((d, c) =>
            d.filter(rehost(c, Map("__bfs_ca" -> d("__bfs_a")))))
          if (g.derivedNodes) filtered.dropDuplicates("__bfs_src") else filtered
        }
        // output=any: ONE row per (src, cur) pair, minimum sig. An
        // aggregate with min_by - NOT a row_number window - so the
        // partial aggregate combines map-side before the shuffle: the
        // join output (one row per PATH) reduces to one row per pair per
        // partition before any bytes move, and no per-partition sort
        def dedupAny(f: DataFrame): DataFrame =
          if (mode != "any") f
          else f.groupBy(col("__bfs_src"), col("__bfs_cur"))
            .agg(min_by(
              struct(col("__bfs_a"), col("__bfs_path"), col("__bfs_sig")),
              col("__bfs_sig")).as("__bfs_m"))
            .select(col("__bfs_src"), col("__bfs_m.__bfs_a").as("__bfs_a"),
              col("__bfs_cur"), col("__bfs_m.__bfs_path").as("__bfs_path"),
              col("__bfs_m.__bfs_sig").as("__bfs_sig"))
        // Size-gated driver-local BFS (optimization round 21, guide
        // §1.2 — the LocalGraph kernel family): on a gated-scale graph
        // the per-level join/dedup/anti-join jobs collapse into one
        // driver pass over the collected edge projection; sources and
        // ekeys stay distributed-computed so the where-clause source
        // filter and the cast/encoding semantics are exactly Spark's.
        // Derived-nodes patterns only (the endpoint structs are bare
        // ids); explicit-`with` graphs and unsupported id types fall
        // through to the distributed loop, as does anything past the
        // caps. The result relation is byte-identical to the per-level
        // union (KqlCompilerSpec BFS fixtures + the q146 oracle gate).
        val localReached: Option[(DataFrame, Long)] =
          if (g.derivedNodes && localGraph) {
            val (lIn, lOut) = if (forward) (g.srcCol, g.dstCol) else (g.dstCol, g.srcCol)
            graft.ops.LocalGraph.bfsShortestPaths(
              g.edges, lIn, lOut, sources, maxHops, mode == "any")
          } else None
        lazy val (perLevel, reachedCnt0) = {
          val srcCnt = sources.count() // materializes the node cache too
          val sSide = maybeBcast(sources, srcCnt)
          var frontier = dedupAny(
            sSide.join(edges, sSide("__bfs_src") === edges("__bfs_in"))
              .select(sSide("__bfs_src"), sSide("__bfs_a"),
                edges("__bfs_out").as("__bfs_cur"),
                array(edges("__bfs_edge")).as("__bfs_path"),
                array(sSide("__bfs_src").cast("string"),
                      edges("__bfs_out").cast("string"),
                      edges("__bfs_ekey")).as("__bfs_sig")))
            .localCheckpoint(eager = false) // the count below materializes it
          var frontierCnt = frontier.count()
          var settled = frontier.select(col("__bfs_src"), col("__bfs_cur"))
            .distinct().localCheckpoint(eager = false)
          var settledCnt = frontierCnt // upper bound; exact enough for the hint
          val perLevel = scala.collection.mutable.Buffer[DataFrame](frontier)
          var reachedCnt = frontierCnt
          var lvl = 1
          while (lvl < maxHops && frontierCnt > 0) {
            val fSide = maybeBcast(frontier, frontierCnt)
            val ext = fSide.join(edges, fSide("__bfs_cur") === edges("__bfs_in"))
              .select(fSide("__bfs_src"), fSide("__bfs_a"),
                edges("__bfs_out").as("__bfs_cur"),
                concat(fSide("__bfs_path"), array(edges("__bfs_edge"))).as("__bfs_path"),
                concat(fSide("__bfs_sig"),
                  array(fSide("__bfs_cur").cast("string"),
                        edges("__bfs_out").cast("string"),
                        edges("__bfs_ekey"))).as("__bfs_sig"))
            // lazy marks: the per-level count (the loop's one driver probe)
            // materializes the checkpointed frontier in the SAME job — one
            // job launch per level instead of three (round-15 discipline)
            val fresh = dedupAny(
              ext.join(maybeBcast(settled, settledCnt),
                Seq("__bfs_src", "__bfs_cur"), "left_anti"))
              .localCheckpoint(eager = false)
            frontierCnt = fresh.count()
            // settled tracks PAIRS: for output=all the frontier carries one
            // row per shortest path, so dedupe before the union or the
            // settled set (and its broadcast-size estimate) grows with path
            // multiplicity instead of pair count
            val freshPairs =
              if (mode == "any") fresh.select(col("__bfs_src"), col("__bfs_cur"))
              else fresh.select(col("__bfs_src"), col("__bfs_cur")).distinct()
            settled = settled.union(freshPairs).localCheckpoint(eager = false)
            settledCnt += (if (mode == "any") frontierCnt else freshPairs.count())
            reachedCnt += frontierCnt
            perLevel += fresh
            frontier = fresh
            lvl += 1
          }
          (perLevel, reachedCnt)
        }
        // cache lifetime: edges/nodes ride the materialize() MatGen
        // machinery (registered above), so the endpoint bind below reads
        // the columnar cache during the query's first execution and the
        // listener unpersists right after — no CacheManager entry
        // outlives the query. Re-executing the SAME compiled DataFrame
        // recomputes the node set once per run (Kusto's query-duration
        // contract: a materialized frame serves ONE query execution);
        // the per-level frontiers stay materialized checkpoints, so the
        // loop itself never re-runs.
        val (reached, reachedCnt) = localReached match {
          case Some((df, n)) => (df, n)
          case None =>
            (perLevel.reduce(_ unionByName _), reachedCnt0)
        }
        var out =
          if (g.derivedNodes)
            // endpoint bind is an identity: every reached id IS a node,
            // and its only column is the id — no join. Null endpoints
            // (edge dst null) bind no node, exactly as the explicit-path
            // nodesB equi-join would drop them
            reached.filter(col("__bfs_cur").isNotNull)
              .withColumn("__bfs_bid", col("__bfs_cur"))
              .withColumn("__bfs_b", struct(col("__bfs_cur").as(g.idCol)))
          else {
            val nodesB = nodes.select(
              nodes(g.idCol).as("__bfs_bid"),
              struct(nCols.map(nodes(_)): _*).as("__bfs_b"))
            maybeBcast(reached, reachedCnt)
              .join(nodesB, reached("__bfs_cur") === nodesB("__bfs_bid"))
          }
        // repeated endpoint alias (a)-[e*…]->(a): same-node constraint
        if (aAlias == bAlias)
          out = out.filter(col("__bfs_src") === col("__bfs_bid"))
        out = pairConj.foldLeft(out)((d, c) =>
          d.filter(rehost(c, Map(
            "__bfs_ca" -> d("__bfs_a"), "__bfs_cb" -> d("__bfs_b")))))
        val binds: Map[String, Column] =
          (if (aAlias == bAlias) Map(aAlias -> col("__bfs_a"))
           else Map(aAlias -> col("__bfs_a"), bAlias -> col("__bfs_b"))) +
          (eAlias -> col("__bfs_path"))
        val fin = out
        withBinds(binds) {
          fin.select(projs.map { case (n, e) => e(fin).as(n) }: _*)
        }
      }
    }

    /** Element bindings for mv-apply's sub-pipeline: while a lambda body
      * is being BUILT (plan time — Spark's HOF wrappers invoke the
      * Scala function once, synchronously, with the lambda variable),
      * the element name resolves here before falling back to df(name).
      * Stack-disciplined so nested mv-apply shadows correctly. */
    private var elemBinds = Map.empty[String, Column]
    private def withBind[A](name: String, c: Column)(body: => A): A = {
      val saved = elemBinds
      elemBinds = elemBinds + (name -> c)
      try body finally elemBinds = saved
    }
    private def withBinds[A](bs: Map[String, Column])(body: => A): A = {
      val saved = elemBinds
      elemBinds = elemBinds ++ bs
      try body finally elemBinds = saved
    }
    private def resolveName(n: String): DataFrame = lets.getOrElse(n, resolve(n))

    /** `let name = <pipeline>; … <pipeline>` — bindings compile eagerly
      * (they are plans, not data; nothing executes until an action).
      * `let name = materialize(<pipeline>);` additionally persists the
      * bound plan (MEMORY_AND_DISK), exactly Kusto's materialize(): a
      * binding referenced N times evaluates once instead of N times —
      * without it Spark recomputes the whole subplan per reference.
      * `let name = toscalar(<pipeline>);` evaluates the subquery to its
      * single top-left value at COMPILE time and binds a constant — the
      * Kusto scalar-from-query form. This is the one deliberate driver-
      * side evaluation in the compiler: toscalar() is BY DEFINITION a
      * scalar the rest of the plan needs as a literal (thresholds,
      * counts); the subquery itself still runs distributed. */
    def statements(): DataFrame = {
      // `set name = value;` request-property statements (Kusto allows any
      // number before the lets). The binning properties feed bin_auto();
      // unrecognized properties are accepted-and-ignored with a warning,
      // exactly Kusto's stance on engine-irrelevant client properties.
      while (peekIs("set") || peekIs("let")) {
        if (peekIs("set")) {
          expect("set"); val n = ident(); expect("=")
          n match {
            case "query_bin_auto_size" =>
              binAutoSize = Some(
                if (peekTimespan) Left(timespanMicros()) else Right(expr()))
            case "query_bin_auto_at" =>
              binAutoAt = Some(expr())
            case "streaming_watermark" =>
              if (!peekTimespan) throw new KqlParseException(
                "set streaming_watermark expects a timespan literal (e.g. 10s)")
              streamingWatermarkUs = Some(timespanMicros())
            case "streaming_horizon" =>
              if (!peekTimespan) throw new KqlParseException(
                "set streaming_horizon expects a timespan literal (e.g. 1h)")
              streamingHorizonUs = Some(timespanMicros())
            case other =>
              warn(s"set '$other' ignored (unsupported request property)")
              while (!peekIs(";")) next()
          }
          expect(";")
        } else letStatement()
      }
      pipeline()
    }

    private def letStatement(): Unit = {
        expect("let"); val n = ident(); expect("=")
        if (peekIs("(") && toks.lift(pos + 1).exists(_.kind == "id") &&
            toks.lift(pos + 2).exists(t => t.text == ":" && t.kind == "sym")) {
          // `let f = (T:(*)) { <pipeline over T> };` — a tabular lambda
          // applied with `| invoke f()` — or `let f = (x: long, …)
          // { <scalar expr> };` — a scalar user function called like any
          // built-in. Either way the BODY is captured as a token range
          // and compiled at each use site — pure plan substitution,
          // nothing executes.
          expect("(")
          val params = List.newBuilder[String]
          var moreP = true
          while (moreP) {
            params += ident(); expect(":")
            if (peekIs("(")) { // (*) or a parenthesized table schema — skip
              expect("(")
              var d = 1
              while (d > 0) { val t = next(); if (t.text == "(" && t.kind == "sym") d += 1
                              else if (t.text == ")" && t.kind == "sym") d -= 1 }
            } else ident() // scalar/table type name
            if (peekIs(",")) expect(",") else moreP = false
          }
          expect(")"); expect("{")
          val start = pos
          var depth = 1
          while (depth > 0) {
            val t = next()
            if (t.text == "{" && t.kind == "sym") depth += 1
            else if (t.text == "}" && t.kind == "sym") depth -= 1
          }
          funcLets(n) = (params.result(), start, pos - 1)
        } else if (peek.exists(t => t.kind == "num" || t.kind == "str") ||
                   (peekIs("-") && toks.lift(pos + 1).exists(_.kind == "num")) ||
                   peekIs("true") || peekIs("false")) {
          // scalar literal let: `let lim = 100;` / `let who = 'x';` /
          // `let w = 7d;` — binds a compile-time value usable anywhere
          // an expression (or a count like take/top N) appears
          if (peekTimespan) scalarLets(n) = timespanMicros()
          else if (peekIs("true") || peekIs("false")) scalarLets(n) = next().text == "true"
          else {
            val neg = peekIs("-"); if (neg) expect("-")
            val t = next()
            if (t.kind == "str") scalarLets(n) = t.text
            else if (t.text.contains(".")) scalarLets(n) = (if (neg) -1 else 1) * t.text.toDouble
            else scalarLets(n) = (if (neg) -1 else 1) * t.text.toLong
          }
        } else if (peekIs("materialize")) {
          expect("materialize"); expect("(")
          val d = pipeline(); expect(")")
          // Kusto materialize(): evaluate once, serve every reference in
          // the query from the cached result, for the duration of ONE
          // query. PERSIST with query-duration release (the entry
          // points' QueryExecutionListener, see MatGen at the top of
          // this object): the cache serves the compile-time graph/BFS
          // loop actions AND exec-time multi-references in the final
          // plan, then releases after the first execution of the
          // compiled result — never a session-lifetime CacheManager
          // leak (the round-16 advisor finding). A lazy localCheckpoint
          // here measured +2.1 s on the q146 BFS (interleaved A/B,
          // round 17) against the persisted form.
          val m = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          materializedFrames += m
          lets(n) = m
        } else if (peekIs("toscalar")) {
          expect("toscalar"); expect("(")
          val d = pipeline(); expect(")")
          val row = d.head() // one-row driver fetch: the defined semantics of toscalar()
          if (row.isNullAt(0)) throw new KqlParseException("toscalar() evaluated to null")
          scalarLets(n) = row.get(0)
        } else lets(n) = pipeline()
        expect(";")
    }

    /** `set query_bin_auto_size` — bin_auto()'s bin width: a timespan
      * (Left, exact micros) or a numeric expression (Right). */
    private var binAutoSize: Option[Either[Long, ColB]] = None
    /** `set query_bin_auto_at` — bin_auto()'s fixed alignment point
      * (defaults to the epoch / zero when unset, Kusto's default). */
    private var binAutoAt: Option[ColB] = None

    /** ENGINE EXTENSIONS (no Kusto equivalent — Kusto's stateful
      * operators are batch): `set streaming_watermark = <timespan>;` is
      * REQUIRED when a stateful operator (`scan`,
      * `row_window_session`) runs over a STREAMING source (it defines
      * the event-time lateness bound, a semantic choice the engine
      * won't default), and `set streaming_horizon = <timespan>;` bounds
      * per-key state retention past the last event (default 1h). */
    private var streamingWatermarkUs: Option[Long] = None
    private var streamingHorizonUs: Option[Long] = None

    /** Shared plumbing for stateful operators over a STREAMING source
      * (round 19): the partition-key column names, the event-time
      * column (the FIRST declared order-by column, required ascending
      * datetime), the remaining order-by columns as in-micro-batch
      * tiebreaks (round 20 — same-timestamp rows consume in the
      * declared order, matching the batch machine's full sort; with no
      * tiebreaks declared, ties fall to arrival order and the compiler
      * WARNS), the watermark delay string, and the state horizon —
      * every contract violation is a loud COMPILE error.
      * `allowUnkeyed = true` (the scan family, whose per-key state is
      * bounded) turns the missing-partition-key error into a loud
      * single-state-partition warning. */
    private def streamingStatefulArgs(df: DataFrame, partitionCols: Seq[Column],
        what: String, allowUnkeyed: Boolean = false)
        : (Seq[String], String, String, Long, Seq[(String, Boolean)]) = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference,
        Expression => CExpr, SortOrder}
      import org.apache.spark.sql.{GraftColumnBridge => EU}
      if (partitionCols.isEmpty) {
        if (allowUnkeyed)
          warn(s"streaming $what without `partition by` routes the WHOLE stream through " +
            "ONE state partition (machine state stays bounded, but throughput is " +
            s"single-task); wrap it in `partition by <Key> ( ... )` to distribute")
        else throw new KqlParseException(
          s"a $what over a streaming source must be keyed: wrap it in " +
          "`partition by <Key> ( ... )` (unbounded global state is not streamable)")
      }
      def nameOf(e: CExpr, role: String): String = e match {
        case a: AttributeReference => a.name
        case UnresolvedAttribute(parts) if parts.length == 1 => parts.head
        case other => throw new KqlParseException(
          s"streaming $what $role must be a plain column, got: $other")
      }
      val keyNames = partitionCols.map(c => nameOf(EU.catalystExpression(c), "partition key"))
      val orders = lastOrder.get.map(_(df))
      if (orders.isEmpty) throw new KqlParseException(
        s"streaming $what needs an event-time order (order by <ts> asc [, tiebreaks])")
      def asOrder(c: Column, role: String): (String, Boolean) = EU.catalystExpression(c) match {
        case so: SortOrder => (nameOf(so.child, role), so.direction == Ascending)
        case other => (nameOf(other, role), true)
      }
      val (tsName, tsAsc) = asOrder(orders.head, "event-time order column")
      if (!tsAsc) throw new KqlParseException(
        s"streaming $what needs an ASCENDING event-time order (order by <ts> asc)")
      if (df.schema(tsName).dataType != org.apache.spark.sql.types.TimestampType)
        throw new KqlParseException(
          s"streaming $what event-time column '$tsName' must be a datetime " +
          s"(got ${df.schema(tsName).dataType.simpleString}) — watermarks need event time")
      // secondary order-by columns become in-micro-batch tiebreaks
      val tiebreaks = orders.tail.map(asOrder(_, "tiebreak column"))
      tiebreaks.foreach { case (nm, _) =>
        if (!graft.streaming.StreamOps.tiebreakOrderable(df.schema(nm).dataType))
          throw new KqlParseException(
            s"streaming $what tiebreak column '$nm' has unorderable type " +
            df.schema(nm).dataType.simpleString)
      }
      if (tiebreaks.isEmpty)
        warn(s"streaming $what with a single order-by column: same-timestamp rows within " +
          "a micro-batch consume in ARRIVAL order (nondeterministic across runs); add " +
          "secondary order-by columns to pin ties")
      val wmUs = streamingWatermarkUs.getOrElse(throw new KqlParseException(
        s"a $what over a streaming source requires an explicit lateness bound: " +
        "`set streaming_watermark = <timespan>;` (engine extension)"))
      (keyNames, tsName, s"${wmUs / 1000L} milliseconds",
        streamingHorizonUs.map(_ / 1000L).getOrElse(3600000L), tiebreaks)
    }

    /** toscalar() bindings: name → evaluated constant. */
    private val scalarLets = scala.collection.mutable.Map.empty[String, Any]

    /** Named side outputs produced by multi-result operators (`fork`
      * legs, `facet` per-column tables) in encounter order. */
    val multiOut = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

    /** Compile-time warnings (e.g. an unkeyed `scan`/`serialize` class
      * operator lowering to one global partition). Collected here,
      * logged by the `compile` entry points, surfaced verbatim by
      * [[KqlCompiler.compileWithWarnings]]. */
    val warnings = scala.collection.mutable.Buffer.empty[String]
    private def warn(msg: String): Unit = warnings += msg

    /** Tabular lambda bindings: name → (parameter, captured body tokens). */
    // name → (params, body token range [start, end)) in THIS parser's
    // token stream — re-parsed in place at each call/invoke site
    private val funcLets = scala.collection.mutable.Map.empty[String, (List[String], Int, Int)]

    def pipeline(): DataFrame = {
      var df = source()
      while (peekIs("|")) { expect("|"); df = pipeOp(df) }
      df
    }

    /** A parenthesized sub-pipeline `(T | op…)` or a bare table/let name. */
    private def subquery(): DataFrame =
      if (peekIs("(")) { expect("("); val r = pipeline(); expect(")"); r }
      else source()

    /** Pipeline head: a table/let name, or one of Kusto's table
      * GENERATORS — `range name from a to b step c` (inclusive axis),
      * `print [name =] expr, …` (one literal row), `datatable(schema)
      * [values…]` (inline literal table). Generators need a session to
      * mint a frame from; lookahead keeps a table that happens to be
      * NAMED 'range' resolvable (`range x from` is unambiguous). */
    private def source(): DataFrame = peek match {
      case Some(t) if t.kind == "id" && t.text == "find" &&
          toks.lift(pos + 1).exists(t2 => t2.kind == "id" && t2.text == "in") =>
        // `find in (T1, T2, …) where <pred> [project c1, c2, …]` —
        // Kusto's cross-table search: the predicate runs against every
        // listed table/let, matches union by name with a `source_`
        // label. Restricted to the explicit-scope + project form (the
        // predicate must compile against each table's schema — loud
        // unresolved-column error otherwise, as Kusto errors on
        // non-common columns outside pack mode). Lowering is per-table
        // filter + select then unionByName: predicates and projections
        // push into each scan; the union adds no shuffle.
        next(); expect("in"); expect("(")
        val names = sepBy1(() => ident())
        expect(")"); expect("where")
        val pred = expr()
        val projCols =
          if (peekIs("project")) { expect("project"); sepBy1(() => ident()) }
          else Nil
        headName = None
        val parts = names.map { n =>
          val d0 = resolveName(n)
          val d = d0.filter(pred(d0))
          val sel = if (projCols.isEmpty) d else d.select(projCols.map(col): _*)
          sel.withColumn("source_", lit(n))
        }
        val unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        // source_ leads, as in Kusto's find output
        unioned.select(col("source_") +: unioned.columns.filterNot(_ == "source_").map(col): _*)
      case Some(t) if t.kind == "id" && t.text == "range" &&
          toks.lift(pos + 1).exists(_.kind == "id") &&
          toks.lift(pos + 2).exists(t2 => t2.kind == "id" && t2.text == "from") =>
        next(); headName = None; rangeSource()
      case Some(t) if t.kind == "id" && t.text == "print" => next(); headName = None; printSource()
      case Some(t) if t.kind == "id" && t.text == "datatable" &&
          toks.lift(pos + 1).exists(_.text == "(") =>
        next(); headName = None; datatableSource()
      case Some(t) if t.kind == "id" && t.text == "externaldata" &&
          toks.lift(pos + 1).exists(_.text == "(") =>
        next(); headName = None; externaldataSource()
      case Some(t) if t.kind == "id" && t.text == "infer_storage_schema" &&
          toks.lift(pos + 1).exists(_.text == "(") =>
        next(); headName = None; inferStorageSchemaSource()
      case _ => val n = ident(); headName = Some(n); resolveName(n)
    }

    /** The current pipeline's head table/let name when it started from a
      * bare reference (None for generators/anonymous inputs) — `union
      * withsource=` labels the left leg with it, as Kusto labels rows
      * with their source table. */
    private var headName: Option[String] = None

    private def session: org.apache.spark.sql.SparkSession =
      sessionHint
        .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .getOrElse(throw new KqlParseException(
          "range/print/datatable need an active SparkSession — use the compile overload that takes one"))

    /** `range name from a to b step c` — Kusto's axis generator, STOP
      * INCLUSIVE. Datetime axes take datetime()/now()/ago() bounds and a
      * timespan step; numeric axes take int/real literals. Lowers to
      * session.range(n) + affine projection: distributed, no literal
      * array on the driver. */
    private def rangeSource(): DataFrame = {
      val name = ident(); expect("from")
      val isDt = peek.exists(t => t.kind == "id" && Set("datetime", "now", "ago")(t.text))
      if (isDt) {
        val fromI = constantInstant(); expect("to"); val toI = constantInstant()
        expect("step"); val stepUs = timespanMicros()
        val fromUs = java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, fromI)
        val toUs = java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, toI)
        if (stepUs <= 0 || toUs < fromUs)
          throw new KqlParseException("range needs to >= from and step > 0")
        val n = (toUs - fromUs) / stepUs + 1
        if (n > 100000000L) throw new KqlParseException(s"range axis too long ($n rows)")
        session.range(n)
          .select(timestamp_micros(lit(fromUs) + col("id") * lit(stepUs)).as(name))
      } else {
        def num(): (Double, Boolean) = { // (value, isIntegral)
          val neg = peekIs("-"); if (neg) expect("-")
          val t = next()
          if (t.kind != "num") throw new KqlParseException(s"expected number, got '${t.text}'")
          val v = t.text.toDouble
          (if (neg) -v else v, !t.text.contains('.'))
        }
        val (from, fi) = num(); expect("to"); val (to, ti) = num()
        expect("step"); val (step, si) = num()
        if (step <= 0 || to < from)
          throw new KqlParseException("range needs to >= from and step > 0")
        val n = math.floor((to - from) / step).toLong + 1
        if (n > 100000000L) throw new KqlParseException(s"range axis too long ($n rows)")
        if (fi && ti && si)
          session.range(n).select((lit(from.toLong) + col("id") * lit(step.toLong)).as(name))
        else
          session.range(n).select((lit(from) + col("id").cast("double") * lit(step)).as(name))
      }
    }

    /** `print [name =] expr, …` — one row of computed constants (Kusto
      * names unnamed outputs print_0, print_1, …). */
    private def printSource(): DataFrame = {
      final case class Item(name: Option[String], b: ColB)
      def item(): Item =
        if (peek.exists(_.kind == "id") &&
            toks.lift(pos + 1).exists(t => t.text == "=" && t.kind == "sym")) {
          val n = ident(); expect("="); Item(Some(n), expr())
        } else Item(None, expr())
      val items = sepBy1(() => item())
      val one = session.range(1).select()
      one.select(items.zipWithIndex.map { case (it, i) =>
        it.b(one).as(it.name.getOrElse(s"print_$i"))
      }: _*)
    }

    /** `externaldata (c1:t1, …) ['uri', …] [with (format='csv',
      * ignoreFirstRecord=true)]` — Kusto's external-table source.
      * Lowers straight onto `spark.read` with the DECLARED schema (no
      * inference scan — one footer/first-bytes read, then a distributed
      * scan of however many files/partitions the URIs expand to, which
      * is exactly the 100-TB path: Kusto streams external blobs,
      * Spark's DataSource does the same with partition-parallel reads,
      * pushdown and pruning intact for parquet). Formats: csv/tsv
      * (ignoreFirstRecord → header), json/multijson, parquet. URIs are
      * whatever the cluster's Hadoop FS understands — local paths here
      * (the sandbox has no egress); abfss/s3a in production builds. */
    private def externaldataSource(): DataFrame = {
      import org.apache.spark.sql.types._
      expect("(")
      val cols = sepBy1(() => {
        val n = ident(); expect(":")
        val dt = ident() match {
          case "long" | "int" => LongType
          case "real" | "double" => DoubleType
          case "string" | "dynamic" => StringType
          case "bool" | "boolean" => BooleanType
          case "datetime" => TimestampType
          case "decimal" => DecimalType(38, 18)
          case other => throw new KqlParseException(s"unsupported externaldata type '$other'")
        }
        StructField(n, dt)
      })
      expect(")"); expect("[")
      val uris = sepBy1(() => {
        val t = next()
        if (t.kind != "str")
          throw new KqlParseException("externaldata URIs must be string literals")
        t.text
      })
      expect("]")
      var format = "csv"
      var header = false
      if (peekIs("with")) {
        expect("with"); expect("(")
        sepBy1[Unit](() => {
          val k = ident(); expect("=")
          val v = next()
          k match {
            case "format" => format = v.text
            case "ignoreFirstRecord" => header = v.text == "true"
            case other => warn(s"externaldata option '$other' ignored")
          }
        })
        expect(")")
      }
      val schema = StructType(cols.toArray)
      val rd = session.read
      format match {
        case "csv" =>
          rd.schema(schema).option("header", header.toString).csv(uris: _*)
        case "tsv" =>
          rd.schema(schema).option("header", header.toString).option("sep", "\t").csv(uris: _*)
        case "json" | "multijson" =>
          rd.schema(schema).json(uris: _*)
        case "parquet" =>
          val raw = session.read.parquet(uris: _*)
          raw.select(cols.map(f => col(f.name).cast(f.dataType)): _*)
        case other =>
          throw new KqlParseException(s"unsupported externaldata format '$other'")
      }
    }

    /** `infer_storage_schema('uri', 'format' [, ignoreFirstRecord])` —
      * the companion of externaldata: infer the external files' schema
      * and return it as ONE row with the Kusto schema string
      * (`CslSchema`), ready to paste into an externaldata declaration.
      * Inference reads a bounded sample (Spark's csv/json inference
      * scan), which is the operator's documented cost in Kusto too. */
    private def inferStorageSchemaSource(): DataFrame = {
      expect("(")
      def strArg(): String = {
        val t = next()
        if (t.kind != "str")
          throw new KqlParseException("infer_storage_schema() arguments must be string literals")
        t.text
      }
      val uri = strArg(); expect(",")
      val format = strArg()
      val header = if (peekIs(",")) { expect(","); ident() == "true" } else false
      expect(")")
      val inferred = format match {
        case "csv" =>
          session.read.option("inferSchema", "true").option("header", header.toString).csv(uri)
        case "tsv" =>
          session.read.option("inferSchema", "true").option("header", header.toString)
            .option("sep", "\t").csv(uri)
        case "json" | "multijson" => session.read.json(uri)
        case "parquet" => session.read.parquet(uri)
        case other => throw new KqlParseException(s"unsupported infer_storage_schema format '$other'")
      }
      import org.apache.spark.sql.types._
      def kustoName(dt: DataType): String = dt match {
        case LongType => "long"
        case IntegerType | ShortType | ByteType => "int"
        case DoubleType | FloatType => "real"
        case _: StringType => "string"
        case BooleanType => "bool"
        case TimestampType | TimestampNTZType | DateType => "datetime"
        case _: DecimalType => "decimal"
        case _ => "dynamic"
      }
      val schemaStr = inferred.schema.fields
        .map(f => s"${f.name}:${kustoName(f.dataType)}").mkString(", ")
      session.range(1).select(lit(schemaStr).as("CslSchema"))
    }

    /** `datatable(c1: t1, c2: t2, …)[v, v, …]` — inline literal table,
      * values row-major. Types: long/int/real/string/bool/datetime. */
    private def datatableSource(): DataFrame = {
      import org.apache.spark.sql.types._
      expect("(")
      val cols = sepBy1(() => {
        val n = ident(); expect(":")
        val dt = ident() match {
          case "long" | "int" => LongType
          case "real" | "double" => DoubleType
          case "string" => StringType
          case "bool" | "boolean" => BooleanType
          case "datetime" => TimestampType
          case other => throw new KqlParseException(s"unsupported datatable type '$other'")
        }
        StructField(n, dt)
      })
      expect(")"); expect("[")
      def value(dt: DataType): Any = {
        if (peekIs("datetime")) {
          expect("datetime"); expect("(")
          return java.sql.Timestamp.from(datetimeLiteral()) // consumes ')'
        }
        val neg = peekIs("-"); if (neg) expect("-")
        val t = next()
        (t.kind, dt) match {
          case ("num", LongType) =>
            val v = t.text.toLong; java.lang.Long.valueOf(if (neg) -v else v)
          case ("num", DoubleType) =>
            val v = t.text.toDouble; java.lang.Double.valueOf(if (neg) -v else v)
          case ("str", StringType) if !neg => t.text
          case ("id", BooleanType) if !neg && (t.text == "true" || t.text == "false") =>
            java.lang.Boolean.valueOf(t.text)
          case _ =>
            throw new KqlParseException(s"datatable value '${t.text}' does not fit declared type $dt")
        }
      }
      val rows = List.newBuilder[org.apache.spark.sql.Row]
      while (!peekIs("]")) {
        val vs = cols.indices.map { i =>
          if (i > 0) expect(",")
          value(cols(i).dataType)
        }
        rows += org.apache.spark.sql.Row.fromSeq(vs)
        if (!peekIs("]")) expect(",")
      }
      expect("]")
      import scala.jdk.CollectionConverters._
      session.createDataFrame(rows.result().asJava, StructType(cols))
    }
    private def peek: Option[Tok] = toks.lift(pos)
    /** Keyword/symbol lookahead. NEVER matches string literals — a
      * literal '-' or 'and' must not be mistaken for the operator with
      * the same spelling. */
    def peekIs(text: String): Boolean = peek.exists(t => t.text == text && t.kind != "str")
    private def next(): Tok =
      { val t = peek.getOrElse(throw new KqlParseException("unexpected end of query")); pos += 1; t }
    def expect(text: String): Unit = {
      val t = next()
      if (t.text != text || t.kind == "str")
        throw new KqlParseException(s"expected '$text', got '${t.text}'")
    }
    def expectEnd(): Unit = {
      if (pendingGraph.isDefined)
        throw new KqlParseException("make-graph must be followed by graph-match or graph-to-table")
      peek.foreach(t => throw new KqlParseException(s"unexpected trailing input at '${t.text}'"))
    }
    def ident(): String = {
      val t = next()
      if (t.kind != "id") throw new KqlParseException(s"expected identifier, got '${t.text}'")
      t.text
    }
    private def number(): Int = {
      val t = next()
      // a scalar let binding usable where Kusto allows one (`let lim =
      // 100; t | take lim`) — resolved to its compile-time value
      if (t.kind == "id" && scalarLets.contains(t.text))
        scalarLets(t.text) match {
          case n: Number => return n.intValue()
          case other => throw new KqlParseException(
            s"expected number, got let '${t.text}' = $other")
        }
      if (t.kind != "num") throw new KqlParseException(s"expected number, got '${t.text}'")
      try t.text.toInt
      catch { case _: NumberFormatException =>
        throw new KqlParseException(s"expected integer, got '${t.text}'") }
    }

    // ---------------------------------------------------- pipe operators

    def pipeOp(df: DataFrame): DataFrame = {
      val opName = ident()
      if (pendingGraph.isDefined && opName != "graph")
        throw new KqlParseException(
          s"make-graph must be followed by graph-match or graph-to-table, got '$opName'")
      pipeOpNamed(opName, df)
    }

    private def pipeOpNamed(op: String, df: DataFrame): DataFrame = op match {
      case "count" => df.agg(count(lit(1)).as("Count"))
      case "where" | "filter" => df.filter(expr()(df))
      case "project" if peekIs("-") =>
        expect("-")
        ident() match {
          case "away" => sepBy1(() => ident()).foldLeft(df)(_.drop(_))
          case "rename" =>
            sepBy1(() => { val n = ident(); expect("="); val o = ident(); (n, o) })
              .foldLeft(df) { case (d, (n, o)) => d.withColumnRenamed(o, n) }
          case "keep" =>
            // wildcard column selection, TABLE order preserved (Kusto)
            val pats = sepBy1(colPattern)
            val kept = df.columns.filter(c => pats.exists(_.matcher(c).matches()))
            if (kept.isEmpty) throw new KqlParseException("project-keep matched no columns")
            df.select(kept.map(col): _*)
          case "reorder" =>
            // listed (wildcard) columns first in pattern order, the rest
            // keep their original order
            val pats = sepBy1(colPattern)
            val first = pats.flatMap(p => df.columns.filter(c => p.matcher(c).matches())).distinct
            val rest = df.columns.filterNot(first.contains)
            df.select((first ++ rest).map(col): _*)
          case other => throw new KqlParseException(s"unsupported operator 'project-$other'")
        }
      case "project" =>
        val items = sepBy1(projItem)
        df.select(items.map(_(df)): _*)
      case "mv" =>
        expect("-")
        ident() match {
          case "expand" =>
            // `mv-expand [with_itemindex=Idx] Col [to typeof(T)]
            //  [limit N]`: one output row per array element (inner
            // semantics). with_itemindex lowers to posexplode; `to
            // typeof` casts elements; `limit` caps elements PER ROW
            // (slice before the explode — Kusto's per-record limit,
            // not a row limit), keeping pathological mega-arrays from
            // dominating a partition.
            val idxCol =
              if (peekIs("with_itemindex")) {
                expect("with_itemindex"); expect("=")
                Some(ident())
              } else None
            def castOf(): Option[String] =
              if (peekIs("to")) {
                expect("to"); expect("typeof"); expect("(")
                val t = ident(); expect(")")
                Some(t match {
                  case "long" | "int" => "long"
                  case "real" | "double" => "double"
                  case "string" => "string"
                  case "bool" | "boolean" => "boolean"
                  case other => throw new KqlParseException(s"unsupported mv-expand typeof '$other'")
                })
              } else None
            // each item: Name [= ArrayExpr] [to typeof(T)] — the
            // aliased form (`mv-expand n = pack_array(…)`) binds the
            // expression as a column FIRST, then expands like a plain
            // column reference (Kusto's documented syntax)
            val items = sepBy1(() => {
              val n = ident()
              val bind = if (peekIs("=")) { expect("="); Some(expr()) } else None
              (n, bind, castOf())
            })
            val perRowCap =
              if (peekIs("limit")) { expect("limit"); Some(number()) } else None
            val dfB = items.foldLeft(df) { case (d, (n, bind, _)) =>
              bind.fold(d)(e => d.withColumn(n, e(d)))
            }
            def prepared(c: String, castTo: Option[String]): Column = {
              val arr0 = perRowCap.fold(dfB(c))(n => slice(dfB(c), lit(1), lit(n)))
              castTo.fold(arr0)(t => arr0.cast(s"array<$t>"))
            }
            items match {
              case List((c, _, castTo)) =>
                val arr = prepared(c, castTo)
                idxCol match {
                  case None => dfB.withColumn(c, explode(arr))
                  case Some(ix) =>
                    val keep = dfB.columns.filterNot(_ == c).map(col)
                    dfB.select((keep :+ posexplode(arr).as(Seq(ix, c))): _*)
                      .withColumn(ix, col(ix).cast("long"))
                }
              case many =>
                // parallel multi-column form: `mv-expand a, b, c` expands
                // the arrays ZIPPED (row i pairs a[i] with b[i], shorter
                // arrays pad with null — Kusto's documented semantics).
                // Lowering: ONE arrays_zip + explode, then unpack the
                // struct fields — a single generator, no join, no shuffle.
                val zipped = arrays_zip(many.map { case (c, _, t) => prepared(c, t).as(c) }: _*)
                val names = many.map(_._1)
                val keep = dfB.columns.filterNot(names.contains).map(col)
                val exploded = idxCol match {
                  case None =>
                    dfB.select((keep :+ explode(zipped).as("__mvz")): _*)
                  case Some(ix) =>
                    dfB.select((keep :+ posexplode(zipped).as(Seq(ix, "__mvz"))): _*)
                      .withColumn(ix, col(ix).cast("long"))
                }
                names.foldLeft(exploded)((d, c) => d.withColumn(c, col("__mvz")(c)))
                  .drop("__mvz")
            }
          case "apply" =>
            // `mv-apply elem = arrayExpr [to typeof(T)] on ( where … [|
            //  where …] [| summarize n = agg(…), …] )` — per-row array
            // analytics compiled to array LAMBDAS, not explode+groupBy:
            // filters become `filter(arr, e -> p)`, aggregates become
            // `aggregate`/`array_min`/`array_max`/`size` folds, all
            // map-side with zero shuffle and no row-correlation problem.
            // Without a summarize the (filtered) elements expand to rows,
            // matching Kusto's row-per-element output.
            val elemName = ident(); expect("=")
            val arrB = expr()
            if (peekIs("to")) { expect("to"); expect("typeof"); expect("("); ident(); expect(")") }
            expect("on"); expect("(")
            val fns = org.apache.spark.sql.functions
            // the sub-pipeline applies SEQUENTIALLY to the element
            // array, all as array lambdas: where → filter(), extend →
            // a named per-element binding visible to later steps,
            // sort by → array_sort with a comparator on the key,
            // top N by → sort + slice, take N → slice; summarize folds
            // and must be last. Zero shuffles, zero explodes until the
            // final row expansion.
            var arr = arrB(df)
            var exts = List.empty[(String, Column => Column)]
            def withElem[A](x: Column)(body: => A): A = {
              val binds = exts.foldLeft(Map(elemName -> x)) { case (m, (n, f)) =>
                m + (n -> f(x))
              }
              withBinds(binds)(body)
            }
            var aggs = List.empty[(String, String, Option[ColB])]
            var scanning = true
            while (scanning) {
              ident() match {
                case "where" =>
                  val p = expr()
                  arr = fns.filter(arr, x => withElem(x)(p(df)))
                case "extend" =>
                  sepBy1(() => {
                    val n = ident(); expect("=")
                    val e = expr()
                    val extsNow = exts // bind to the scope at THIS step
                    exts = exts :+ (n, (x: Column) => {
                      val binds = extsNow.foldLeft(Map(elemName -> x)) { case (m, (nm, f)) =>
                        m + (nm -> f(x))
                      }
                      withBinds(binds)(e(df))
                    })
                    ()
                  })
                case "sort" | "order" =>
                  expect("by")
                  val k = expr()
                  val asc = if (peekIs("asc")) { expect("asc"); true }
                            else { if (peekIs("desc")) expect("desc"); false }
                  arr = sortByKey(arr, x => withElem(x)(k(df)), asc)
                case "top" =>
                  val n = number(); expect("by")
                  val k = expr()
                  val asc = if (peekIs("asc")) { expect("asc"); true }
                            else { if (peekIs("desc")) expect("desc"); false }
                  arr = slice(sortByKey(arr, x => withElem(x)(k(df)), asc), lit(1), lit(n))
                case "take" | "limit" =>
                  arr = slice(arr, lit(1), lit(number()))
                case "summarize" =>
                  aggs = sepBy1(() => {
                    val n = ident(); expect("=")
                    val fn = ident(); expect("(")
                    val arg = if (peekIs(")")) None else Some(expr())
                    expect(")")
                    (n, fn, arg)
                  })
                  scanning = false // summarize must be the last step
                case other =>
                  throw new KqlParseException(
                    s"mv-apply supports where/extend/sort/top/take/summarize steps, got '$other'")
              }
              if (scanning) { if (peekIs("|")) expect("|") else scanning = false }
            }
            expect(")")
            val filtered = arr
            def mapped(argB: Option[ColB]): Column = argB match {
              case Some(b) => fns.transform(filtered, x => withElem(x)(b(df)))
              case None => filtered
            }
            if (aggs.isEmpty) {
              // row-per-element output carries the extended columns too
              val exploded = df.withColumn(elemName, explode(filtered))
              exts.foldLeft(exploded) { case (d, (n, f)) =>
                d.withColumn(n, f(col(elemName)))
              }
            } else aggs.foldLeft(df) { case (d, (n, fn, argB)) =>
              d.withColumn(n, fn match {
                case "count" =>
                  if (argB.nonEmpty) throw new KqlParseException("mv-apply count() takes no argument")
                  size(filtered).cast("long")
                case "sum" =>
                  fns.aggregate(mapped(argB), lit(0.0).cast("double"), (s, x) => s + x)
                case "min" => array_min(mapped(argB))
                case "max" => array_max(mapped(argB))
                case "avg" => // null over an empty element set (never divides by 0)
                  when(size(filtered) > 0,
                    fns.aggregate(mapped(argB), lit(0.0).cast("double"), (s, x) => s + x) /
                      size(filtered))
                case "dcount" => size(array_distinct(mapped(argB))).cast("long")
                case "make_list" => mapped(argB)
                case other => throw new KqlParseException(s"unsupported mv-apply aggregate '$other'")
              })
            }
        }
      case "extend" if peekIs("(") =>
        // multi-assign form: `extend (mn, mni, mx, mxi, av, sd, vr) =
        // series_stats(arr)` — Kusto's tuple-returning scalar. Components
        // in Kusto's order: min, min_idx, max, max_idx, avg, stdev,
        // variance (sample; two-pass sum-of-squared-deviations, clamped
        // at 0 so constant series can't round to -0.0). All array
        // lambdas — map-only, no shuffle.
        expect("(")
        val names = sepBy1(() => ident())
        expect(")"); expect("=")
        val fn = ident()
        // optional trailing 'trendKind' string literal shared by the
        // series_decompose family (compile-time dispatch, so it must be a
        // literal — Kusto requires the same)
        def trendArg(default: String): String =
          if (peekIs(",")) {
            expect(",")
            val t = next()
            if (t.kind != "str") throw new KqlParseException(s"$fn trend must be a string literal")
            t.text
          } else default
        // the decompose family materializes ONE hidden array<struct> column
        // and assigns each name a field extraction: the struct expression
        // appears once in the plan (CollapseProject keeps a multi-referenced
        // non-trivial expression materialized) and is evaluated once per
        // row — assigning the raw component expressions per column instead
        // duplicates the whole decomposition tree 4× and blows Catalyst
        // analysis up combinatorially once downstream projections inline it.
        def viaStruct(structArr: Column, fields: Seq[String]): DataFrame = {
          val tmp = "__series_dec"
          val withS = df.withColumn(tmp, structArr)
          names.zip(fields).foldLeft(withS) { case (d, (nm, f)) =>
            d.withColumn(nm, col(tmp).getField(f))
          }.drop(tmp)
        }
        fn match {
          case "series_fft" | "series_ifft" =>
            // `(re, im) = series_fft(x [, x_im])` — any-length DFT
            // (radix-2 / Bluestein, functions/Fft.scala)
            expect("("); val reB = expr()
            val imB = if (peekIs(",")) { expect(","); Some(expr()) } else None
            expect(")")
            if (names.length != 2)
              throw new KqlParseException(s"$fn yields (real, imaginary) — assign exactly 2 names")
            import org.apache.spark.sql.GraftColumnBridge
            val kids = (Seq(reB) ++ imB.toSeq).map(b =>
              GraftColumnBridge.catalystExpression(
                transform(b(df), _.cast("double"))))
            viaStruct(GraftColumnBridge.column(
              graft.functions.SeriesFft(kids, inverse = fn == "series_ifft")),
              Seq("re", "im"))
          case "series_stats" =>
            expect("("); val arrB = expr(); expect(")")
            if (names.length > 7)
              throw new KqlParseException("series_stats yields at most 7 values (min, min_idx, max, max_idx, avg, stdev, variance)")
            val a = arrB(df)
            val sn = size(a).cast("double")
            val av = aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) / sn
            val vr = greatest(lit(0.0),
              aggregate(a, lit(0.0), (acc, x) =>
                acc + (x.cast("double") - av) * (x.cast("double") - av)) / (sn - lit(1.0)))
            val comps: Seq[Column] = Seq(
              array_min(a),
              (array_position(a, array_min(a)) - 1).cast("long"),
              array_max(a),
              (array_position(a, array_max(a)) - 1).cast("long"),
              av, sqrt(vr), vr)
            names.zip(comps).foldLeft(df) { case (d, (nm, c)) => d.withColumn(nm, c) }
          case "series_decompose" =>
            // (baseline, seasonal, trend, residual) = series_decompose(arr,
            //  period [, 'linefit'|'avg'|'none']) — map-only array lambdas
            // (graft.functions.SeriesDecompose); period -1 (autodetect) is
            // a loud runtime error, 0 means no seasonality.
            expect("("); val arrB = expr(); expect(","); val periodB = expr()
            val tk = trendArg("linefit"); expect(")")
            if (names.length > 4)
              throw new KqlParseException("series_decompose yields at most 4 values (baseline, seasonal, trend, residual)")
            viaStruct(graft.functions.SeriesDecompose.decomposeStruct(arrB(df), periodB(df), tk),
              Seq("base", "seas", "tr", "resid"))
          case "series_decompose_anomalies" =>
            // (ad_flag, ad_score, baseline) = series_decompose_anomalies(
            //  arr [, threshold=1.5 [, period=-1 [, 'linefit']]]) — Kusto's
            // signature; the -1 period default fails loudly (no autodetect).
            expect("("); val arrB = expr()
            val thB = if (peekIs(",")) { expect(","); Some(expr()) } else None
            val pB = if (thB.nonEmpty && peekIs(",")) { expect(","); Some(expr()) } else None
            val tk = if (pB.nonEmpty) trendArg("linefit") else "linefit"
            expect(")")
            if (names.length > 3)
              throw new KqlParseException("series_decompose_anomalies yields at most 3 values (ad_flag, ad_score, baseline)")
            viaStruct(graft.functions.SeriesDecompose.anomaliesStruct(arrB(df),
              thB.fold(lit(1.5))(_(df)), pB.fold(lit(-1))(_(df)), tk),
              Seq("flag", "score", "base"))
          case "series_fit_line" =>
            // (rsquare, slope, variance, rvariance, interception,
            //  line_fit) = series_fit_line(arr) — Kusto's output order;
            // sample variances, rsquare pinned 1.0 for constant series.
            expect("("); val arrB = expr(); expect(")")
            if (names.length > 6)
              throw new KqlParseException("series_fit_line yields at most 6 values (rsquare, slope, variance, rvariance, interception, line_fit)")
            viaStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesFitLine(
                org.apache.spark.sql.GraftColumnBridge.catalystExpression(
                  transform(arrB(df), _.cast("double"))))),
              Seq("rsquare", "slope", "variance", "rvariance", "interception", "line_fit"))
          case "series_fit_poly" =>
            // (rsquare, coefficients, variance, rvariance, poly_fit) =
            //  series_fit_poly(y [, x] [, degree]) — per-row OLS
            // polynomial fit (functions/PolyFit.scala; coefficients
            // highest power first, x defaults to the series index).
            // degree is a parse-time literal (compile-time cap 8).
            expect("("); val yB = expr()
            var xB: Option[ColB] = None
            var deg = 1
            if (peekIs(",")) {
              expect(",")
              if (peek.exists(_.kind == "num") && toks.lift(pos + 1).exists(_.text == ")"))
                deg = number()
              else {
                xB = Some(expr())
                if (peekIs(",")) { expect(","); deg = number() }
              }
            }
            expect(")")
            if (names.length > 5)
              throw new KqlParseException("series_fit_poly yields at most 5 values (rsquare, coefficients, variance, rvariance, poly_fit)")
            if (deg < 0 || deg > 8)
              throw new KqlParseException(s"series_fit_poly degree must be 0..8, got $deg")
            val polyKids = (Seq(yB) ++ xB.toSeq).map(bld =>
              org.apache.spark.sql.GraftColumnBridge.catalystExpression(
                transform(bld(df), _.cast("double"))))
            viaStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesFitPoly(polyKids, deg)),
              Seq("rsquare", "coefficients", "variance", "rvariance", "poly_fit"))
          case "series_fit_2lines" =>
            // (rsquare, split_idx, variance, rvariance, line_fit) =
            //  series_fit_2lines(arr) — best two-segment OLS changepoint
            // (pinned spec on functions/SeriesFit.scala: split
            // minimizes RSS, ties → smallest, both segments ≥ 2 points).
            expect("("); val arrB = expr(); expect(")")
            if (names.length > 5)
              throw new KqlParseException("series_fit_2lines yields at most 5 values (rsquare, split_idx, variance, rvariance, line_fit)")
            viaStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesFit2Lines(
                org.apache.spark.sql.GraftColumnBridge.catalystExpression(
                  transform(arrB(df), _.cast("double"))), dynamic = false)),
              Seq("rsquare", "split_idx", "variance", "rvariance", "line_fit"))
          case "series_decompose_forecast" =>
            // (baseline, seasonal, trend, residual) =
            //  series_decompose_forecast(arr, points [, period [, trend]])
            // — components fit on the training prefix (first n−points),
            // baseline extrapolated over the full axis; residual null on
            // the forecast tail. Explicit period required (same -1 rule).
            expect("("); val arrB = expr(); expect(","); val ptsB = expr()
            val pB = if (peekIs(",")) { expect(","); Some(expr()) } else None
            val tk = if (pB.nonEmpty) trendArg("linefit") else "linefit"
            expect(")")
            if (names.length > 4)
              throw new KqlParseException("series_decompose_forecast yields at most 4 values (baseline, seasonal, trend, residual)")
            viaStruct(graft.functions.SeriesDecompose.forecastStruct(arrB(df),
              ptsB(df), pB.fold(lit(-1))(_(df)), tk),
              Seq("base", "seas", "tr", "resid"))
          case "series_periods_detect" =>
            // (periods, scores) = series_periods_detect(arr, minP, maxP,
            //  num) — ACF-ranked integer lags (pinned spec on
            // graft.functions.SeriesPeriods; Kusto's
            // FFT detector is unspecified). Composes with
            // series_decompose via array indexing: toint(periods[0]).
            expect("("); val arrB = expr(); expect(","); val loB = expr()
            expect(","); val hiB = expr(); expect(","); val numB = expr(); expect(")")
            if (names.length > 2)
              throw new KqlParseException("series_periods_detect yields at most 2 values (periods, scores)")
            viaStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesPeriods(Seq(
                transform(arrB(df), _.cast("double")),
                loB(df).cast("int"), hiB(df).cast("int"), numB(df).cast("int"))
                .map(org.apache.spark.sql.GraftColumnBridge.catalystExpression),
                detect = true)), Seq("periods", "scores"))
          case "series_periods_validate" =>
            // (periods, scores) = series_periods_validate(arr, p1, …, pN)
            // — scores the GIVEN lags with the detector's normalized-ACF
            // measure (functions/SeriesFit.scala pins the
            // spec; out-of-range lags and constant series score 0).
            expect("("); val arrB = expr()
            val lagBs = scala.collection.mutable.Buffer.empty[ColB]
            while (peekIs(",")) { expect(","); lagBs += expr() }
            expect(")")
            if (lagBs.isEmpty)
              throw new KqlParseException("series_periods_validate needs at least one period argument")
            if (names.length > 2)
              throw new KqlParseException("series_periods_validate yields at most 2 values (periods, scores)")
            viaStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesPeriods(
                (transform(arrB(df), _.cast("double")) +:
                  lagBs.toSeq.map(_(df).cast("int")))
                  .map(org.apache.spark.sql.GraftColumnBridge.catalystExpression),
                detect = false)), Seq("periods", "scores"))
          case other =>
            throw new KqlParseException(
              s"multi-assign extend supports series_stats/series_decompose/series_decompose_anomalies/series_fit_line/series_fit_2lines/series_fit_poly/series_fft/series_ifft/series_periods_detect/series_periods_validate, got '$other'")
        }
      case "extend" if toks.lift(pos + 2).exists(t =>
          t.kind == "id" && t.text == "row_window_session") =>
        rowWindowSessionOp(df, Nil)
      case "extend" =>
        sepBy1(() => {
          // plain identifier or Kusto's ['bracket quoted'] output name
          val n =
            if (peekIs("[")) { expect("["); val t = next()
              if (t.kind != "str") throw new KqlParseException("expected ['name']")
              expect("]"); t.text }
            else ident()
          expect("="); (n, expr())
        }).foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e(d)) }
      case "summarize" =>
        // Kusto perf hints: `hint.shufflekey=Col` pre-partitions on the
        // named key (HashPartitioning on a subset of the group keys
        // satisfies the aggregate's clustering requirement, so Spark
        // skips its own exchange — exactly Kusto's skew-spread intent);
        // `hint.strategy=shuffle` is accepted as a no-op (the hash
        // aggregate IS the shuffle strategy). Both advisory, as in Kusto.
        var shuffleKeys = List.empty[String]
        while (peekIs("hint")) {
          expect("hint"); expect("."); val h = ident(); expect("=")
          val v = next().text // hint values may be identifiers or numbers
          h match {
            case "shufflekey" => shuffleKeys :+= v
            case "strategy" =>
              if (v != "shuffle") warn(s"summarize strategy '$v' ignored (hash aggregate is the only strategy)")
            case other => warn(s"summarize hint '$other' ignored")
          }
        }
        val aggs = sepBy1(() => aggItemMulti()).flatten
        val keys = if (peekIs("by")) { expect("by"); sepBy1(projItem) } else Nil
        val base = if (shuffleKeys.isEmpty) df else df.repartition(shuffleKeys.map(col): _*)
        val aggCols = aggs.map(_(base))
        val agged = base.groupBy(keys.map(_(base)): _*).agg(aggCols.head, aggCols.tail: _*)
        // expand arg_max/arg_min row-struct markers into real columns;
        // fields colliding with an existing output column (group keys,
        // or an earlier expansion) dedupe away
        if (agged.columns.exists(_.startsWith("__arg_expand_"))) {
          val plain = agged.columns.filterNot(_.startsWith("__arg_expand_")).toSet
          val taken = scala.collection.mutable.Set.empty[String] ++= plain
          agged.select(agged.columns.toSeq.flatMap { c =>
            if (c.startsWith("__arg_expand_")) {
              val st = agged.schema(c).dataType
                .asInstanceOf[org.apache.spark.sql.types.StructType]
              st.fieldNames.toSeq.flatMap { f =>
                if (taken(f)) None
                else { taken += f; Some(agged(c).getField(f).as(f)) }
              }
            } else Seq(agged(c))
          }: _*)
        } else agged
      case "order" | "sort" =>
        expect("by")
        val items = sepBy1(orderItem)
        lastOrder = Some(items)
        if (df.isStreaming) {
          // an unbounded stream has no global sort (Spark rejects Sort
          // on streaming frames outright); on a streaming source `order
          // by` is a DECLARATION of the event-time row order the
          // stateful operators downstream (scan) consume per micro-batch
          warn("order by over a streaming source declares the event-time order " +
            "for downstream stateful operators; it does not sort the stream")
          df
        } else df.orderBy(items.map(_(df)): _*)
      case "top" if peekIs("-") =>
        // `top-nested N of Col by Name = agg() [, top-nested N2 of Col2
        //  by Name2 = agg2() …]` — hierarchical top-k: each level keeps
        // the N best groups WITHIN each parent group. Lowering per level:
        // one hash aggregate on the accumulated keys, an inner join back
        // to the parent winners (small — bounded by Π n_i, broadcast), a
        // row_number window partitioned by the parent keys. Ties break
        // (agg DESC, col ASC) so results are deterministic (Kusto leaves
        // ties unspecified; determinism makes this oracle-comparable).
        expect("-")
        ident() match {
          case "nested" => ()
          case "hitters" =>
            // `top-hitters N of Col [by ValueCol]` — Kusto's heavy-hitter
            // probe. Kusto approximates; this engine computes it EXACTLY
            // (one partial+final hash agg + TakeOrderedAndProject — the
            // Zipf head absorbs map-side, so exactness costs nothing at
            // any scale) but keeps Kusto's approximate_* output naming.
            // Deterministic key-asc tie-break (Kusto leaves ties loose).
            val n = number(); expect("of"); val c = ident()
            val byCol = if (peekIs("by")) { expect("by"); Some(ident()) } else None
            return byCol match {
              case None =>
                df.groupBy(col(c)).agg(count(lit(1)).as(s"approximate_count_$c"))
                  .orderBy(col(s"approximate_count_$c").desc, col(c).asc).limit(n)
              case Some(v) =>
                df.groupBy(col(c)).agg(sum(col(v)).as(s"approximate_sum_$v"))
                  .orderBy(col(s"approximate_sum_$v").desc, col(c).asc).limit(n)
            }
          case other => throw new KqlParseException(s"unsupported operator 'top-$other'")
        }
        final case class Level(n: Int, colName: String, aggName: String, aggB: ColB,
                               others: Option[String], fn: Option[String])
        def level(): Level = {
          val n = number(); expect("of"); val c = ident()
          // `with others = 'label'`: everything NOT in the top N rolls
          // into one labeled bucket row (supported on the last level —
          // the dominant "top N + rest" dashboard shape)
          val others =
            if (peekIs("with")) {
              expect("with"); expect("others"); expect("=")
              val t = next()
              if (t.kind != "str")
                throw new KqlParseException("top-nested others label must be a string literal")
              Some(t.text)
            } else None
          expect("by")
          val an = ident(); expect("=")
          val fn = peek.filter(_.kind == "id").map(_.text)
          Level(n, c, an, expr(), others, fn)
        }
        val levels = List.newBuilder[Level]
        levels += level()
        while (peekIs(",")) {
          expect(","); expect("top"); expect("-")
          if (ident() != "nested") throw new KqlParseException("expected 'top-nested' after ','")
          levels += level()
        }
        val sqlW = org.apache.spark.sql.expressions.Window
        var acc: DataFrame = null
        var workDf = df // levels with `others` REWRITE their key column here
        var keys = List.empty[String]
        var prevAggs = List.empty[String]
        for (lv <- levels.result()) {
          val grouped = workDf.groupBy((keys :+ lv.colName).map(col): _*)
            .agg(lv.aggB(workDf).as(lv.aggName))
          // null-safe key equality: a null parent group must keep its
          // children (equi-join keys would drop them)
          def parentJoin(g: DataFrame): DataFrame =
            if (acc == null) g
            else g.join(broadcast(acc),
                keys.map(k => g(k) <=> acc(k)).reduce(_ && _), "inner")
              .select((keys :+ lv.colName :+ lv.aggName).map(g(_)) ++
                prevAggs.map(acc(_)): _*)
          val joined = parentJoin(grouped)
          val w =
            if (keys.isEmpty) sqlW.orderBy(col(lv.aggName).desc, col(lv.colName).asc)
            else sqlW.partitionBy(keys.map(col): _*).orderBy(col(lv.aggName).desc, col(lv.colName).asc)
          val ranked = joined.withColumn("__rn", row_number().over(w))
          val winners = ranked.where(col("__rn") <= lv.n).drop("__rn")
          acc = lv.others match {
            case None => winners
            case Some(label) =>
              // ANY level may roll its losers into a labeled bucket: the
              // level column is rewritten to the label in the raw working
              // frame and the level re-aggregates, so every aggregate
              // (avg/dcount included) is exact over the rolled-up rows
              // and DEEPER levels nest inside the bucket like any other
              // parent group — full Kusto semantics, not last-level-only
              val keyCols = keys :+ lv.colName
              val colType = joined.schema(lv.colName).dataType
              val wk = winners.select(keyCols.zipWithIndex.map { case (k, i) =>
                col(k).as(s"__tn_k$i") } :+ lit(1).as("__tn_w"): _*)
              val cond = keyCols.zipWithIndex.map { case (k, i) =>
                workDf(k) <=> wk(s"__tn_k$i") }.reduce(_ && _)
              workDf = workDf.join(broadcast(wk), cond, "left")
                .withColumn(lv.colName,
                  when(col("__tn_w").isNull, lit(label).cast(colType)).otherwise(col(lv.colName)))
                .drop(("__tn_w" +: keyCols.indices.map(i => s"__tn_k$i")): _*)
              parentJoin(workDf.groupBy(keyCols.map(col): _*)
                .agg(lv.aggB(workDf).as(lv.aggName)))
          }
          keys = keys :+ lv.colName
          prevAggs = prevAggs :+ lv.aggName
        }
        // column order: level keys/aggs in declaration order
        acc.select(levels.result().flatMap(lv => Seq(col(lv.colName), col(lv.aggName))): _*)
      case "top" =>
        val n = number(); expect("by")
        val items = sepBy1(orderItem)
        lastOrder = Some(items)
        df.orderBy(items.map(_(df)): _*).limit(n)
      case "render" =>
        // `| render <chartkind> [with (prop = …, …)]` — a PRESENTATION
        // hint, not a transform: Kusto executes the pipeline identically
        // and the client draws the chart. Dashboards and the reference's
        // Grafana-style probes routinely end queries with it, so the
        // compiler accepts (and validates the chart kind of) the clause
        // and returns the frame unchanged; Kusto requires render last,
        // enforced by the normal trailing-token check.
        val kind = ident()
        val kinds = Set("anomalychart", "areachart", "barchart", "card", "columnchart",
          "ladderchart", "linechart", "piechart", "pivotchart", "scatterchart",
          "stackedareachart", "table", "timechart", "timepivot", "treemap")
        if (!kinds(kind))
          throw new KqlParseException(s"unsupported render chart kind '$kind'")
        if (peekIs("with")) { // properties are client-side; skip the balanced group
          expect("with"); expect("(")
          var depth = 1
          while (depth > 0) {
            val t = next()
            if (t.kind == "sym" && t.text == "(") depth += 1
            else if (t.kind == "sym" && t.text == ")") depth -= 1
          }
        }
        if (peekIs("|"))
          throw new KqlParseException("render must be the last operator (trailing pipeline after render)")
        df
      case "scan" => scanOp(df, Nil)
      case "partition" if toks.lift(pos).exists(t => t.kind == "id" && t.text == "by") &&
          toks.lift(pos + 2).exists(t => t.text == "(" && t.kind == "sym") &&
          toks.lift(pos + 3).exists(t => t.kind == "id" && t.text == "scan") =>
        // `partition by Key ( scan … )` — the scan family DISTRIBUTED
        // from KQL text: the state machine runs per key, so the lowering
        // is the keyed window form — ONE hash shuffle on the key, no
        // global single partition. In-partition row order comes from the
        // query's preceding `order by`, exactly as in the global form
        // (Kusto's partition operator re-runs the subquery per
        // partition; for scan that is per-key matching).
        expect("by")
        val pkey = ident()
        expect("(")
        expect("scan")
        val res = scanOp(df, Seq(col(pkey)))
        expect(")")
        res
      case "serialize" =>
        // `serialize [name = expr, …]`: marks the frame row-ordered so
        // row_number()/prev()/next() are meaningful; assignments behave
        // like extend. The serialization point is inherently a global
        // window (exactly as in Kusto) — the one operator here that does
        // not scale out, by definition.
        if (lastOrder.isEmpty)
          throw new KqlParseException(
            "serialize requires a preceding 'order by' (no stable natural order in a distributed engine)")
        if (peek.exists(_.kind == "id"))
          sepBy1(() => { val n = ident(); expect("="); (n, expr()) })
            .foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e(d)) }
        else df
      case "evaluate" =>
        // Kusto plugin surface. Supported plugins:
        //  - pivot(pivotCol, agg(col) [, out1, out2, …]) — Kusto's pivot
        //    plugin; WITH explicit output columns the value list never
        //    needs a data scan (Spark pivot with values = one agg, no
        //    driver-side distinct — the only scale-safe form at 100 TB;
        //    without them Spark runs a bounded distinct job first).
        //  - funnel(keyCol, tsCol, stepCol, 'step1', …) — engine
        //    extension exposing [[graft.ops.Funnel]] (the shape of
        //    Kusto's funnel_sequence_completion plugin).
        val plugin = ident()
        expect("(")
        plugin match {
          case "activity_engagement" =>
            // activity_engagement(IdCol, TimelineCol, InnerWindow,
            // OuterWindow) — Kusto's engagement-ratio plugin (DAU/MAU
            // when inner=1d outer=28d): per inner bin, distinct ids in
            // the bin vs distinct ids in the TRAILING outer window.
            // Scale shape: ONE distinct (id, bin) aggregate, then each
            // activity explodes to the W = outer/inner bins whose
            // trailing window it falls in (the sliding-distinct trick —
            // W× row inflation on the DEDUPED activity table, never on
            // raw events), one countDistinct per side, one join on the
            // bin. W is capped loudly.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val innerUs = timespanMicros(); expect(",")
            val outerUs = timespanMicros()
            expect(")")
            if (innerUs <= 0 || outerUs % innerUs != 0)
              throw new KqlParseException(
                "activity_engagement: outer window must be a positive multiple of the inner window")
            val w = (outerUs / innerUs).toInt
            if (w > 256) throw new KqlParseException(
              s"activity_engagement: outer/inner = $w windows (cap 256)")
            val acts = df.select(col(idCol).as("__ae_id"),
                floor(unix_micros(col(tsCol)) / lit(innerUs.toDouble)).cast("long").as("__ae_b"))
              .distinct()
            val inner = acts.groupBy(col("__ae_b"))
              .agg(countDistinct(col("__ae_id")).as("dcount_activities_inner"))
            val outer = acts
              .select(col("__ae_id"),
                explode(sequence(col("__ae_b"), col("__ae_b") + lit((w - 1).toLong))).as("__ae_c"))
              .groupBy(col("__ae_c"))
              .agg(countDistinct(col("__ae_id")).as("dcount_activities_outer"))
            inner.join(outer, col("__ae_b") === col("__ae_c"))
              .select(
                timestamp_micros(col("__ae_b") * lit(innerUs)).as(tsCol),
                col("dcount_activities_inner"),
                col("dcount_activities_outer"),
                (col("dcount_activities_inner").cast("double") /
                  col("dcount_activities_outer")).as("activity_ratio"))
          case "session_count" =>
            // session_count(IdCol, TimelineCol, Bin, LookBack) — Kusto's
            // session-counting plugin: an activity STARTS a session iff
            // the same id had no activity within the preceding LookBack
            // (prev == null or prev < ts − lookback, pinned); sessions
            // are counted per Bin of their start time. ONE hash shuffle
            // on the id (the lag window) + one bin aggregate.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val binUs = timespanMicros(); expect(",")
            val lookUs = timespanMicros()
            expect(")")
            if (binUs <= 0 || lookUs <= 0)
              throw new KqlParseException("session_count: bin and lookback must be positive")
            val wSpec = org.apache.spark.sql.expressions.Window
              .partitionBy(col(idCol)).orderBy(col(tsCol).asc)
            val us = unix_micros(col(tsCol))
            val prevUs = lag(unix_micros(col(tsCol)), 1).over(wSpec)
            df.withColumn("__sc_start",
                prevUs.isNull || prevUs < unix_micros(col(tsCol)) - lit(lookUs))
              .where(col("__sc_start"))
              .groupBy(timestamp_micros(
                (floor(us / lit(binUs.toDouble)).cast("long") * lit(binUs))).as(tsCol))
              .agg(count(lit(1)).as("count_sessions"))
          case "sliding_window_counts" =>
            // sliding_window_counts(IdCol, TimelineCol, Start, End,
            // LookbackWindow, Bin) — Kusto's trailing-window count
            // plugin: per bin t in [Start, End], Count = events and
            // Dcount = distinct ids whose bin lands in (t−W, t]. Scale
            // shape: each event explodes to the ≤W output bins of its
            // trailing windows (W = lookback/bin, capped loudly), one
            // count + countDistinct aggregate on the bin, one join to
            // the distributed axis (spark.range) for the zero-filled
            // rows — never a per-bin self-join or re-scan.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val lookUs = timespanMicros(); expect(",")
            val binUs = timespanMicros()
            expect(")")
            if (binUs <= 0 || lookUs % binUs != 0)
              throw new KqlParseException(
                "sliding_window_counts: lookback must be a positive multiple of bin")
            val w = (lookUs / binUs).toInt
            if (w > 256) throw new KqlParseException(
              s"sliding_window_counts: lookback/bin = $w bins (cap 256)")
            val startB = Math.floorDiv(startI.getEpochSecond * 1000000L + startI.getNano / 1000L, binUs)
            val endB = Math.floorDiv(endI.getEpochSecond * 1000000L + endI.getNano / 1000L, binUs)
            if (endB < startB || endB - startB > 1000000L)
              throw new KqlParseException("sliding_window_counts: bad axis (empty or > 1e6 bins)")
            val ev = df.select(col(idCol).as("__sw_id"),
                floor(unix_micros(col(tsCol)) / lit(binUs.toDouble)).cast("long").as("__sw_b"))
              .where(col("__sw_b").between(startB - w + 1, endB))
            val contrib = ev.select(col("__sw_id"),
              explode(sequence(greatest(col("__sw_b"), lit(startB)),
                least(col("__sw_b") + lit((w - 1).toLong), lit(endB)))).as("__sw_t"))
            val counts = contrib.groupBy(col("__sw_t"))
              .agg(count(lit(1)).as("__sw_c"), countDistinct(col("__sw_id")).as("__sw_d"))
            df.sparkSession.range(startB, endB + 1).toDF("__sw_axis")
              .join(counts, col("__sw_axis") === col("__sw_t"), "left")
              .select(
                timestamp_micros(col("__sw_axis") * lit(binUs)).as(tsCol),
                coalesce(col("__sw_c"), lit(0L)).as("Count"),
                coalesce(col("__sw_d"), lit(0L)).as("Dcount"))
          case "activity_counts_metrics" =>
            // activity_counts_metrics(IdCol, TimelineCol, Start, End,
            // Bin) — per bin: total activities, distinct ids, FIRST-seen
            // ids (new_dcount) and the running distinct total
            // (aggregated_dcount = cumulative sum of new_dcount; exact,
            // since every id is new in exactly one bin). Scale shape:
            // one bin aggregate on raw events + one min-bin aggregate on
            // the id (both hash aggs), a bin join to the distributed
            // axis, and ONE unkeyed running window over the ≤1e6-row
            // AXIS — never over the data.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val binUs = timespanMicros()
            expect(")")
            if (binUs <= 0)
              throw new KqlParseException("activity_counts_metrics: bin must be positive")
            val startB = Math.floorDiv(startI.getEpochSecond * 1000000L + startI.getNano / 1000L, binUs)
            val endB = Math.floorDiv(endI.getEpochSecond * 1000000L + endI.getNano / 1000L, binUs)
            if (endB < startB || endB - startB > 1000000L)
              throw new KqlParseException("activity_counts_metrics: bad axis (empty or > 1e6 bins)")
            val ev = df.select(col(idCol).as("__ac_id"),
                floor(unix_micros(col(tsCol)) / lit(binUs.toDouble)).cast("long").as("__ac_b"))
              .where(col("__ac_b").between(startB, endB))
            val perBin = ev.groupBy(col("__ac_b"))
              .agg(count(lit(1)).as("__ac_c"), countDistinct(col("__ac_id")).as("__ac_d"))
            val firstSeen = ev.groupBy(col("__ac_id")).agg(min(col("__ac_b")).as("__ac_fb"))
              .groupBy(col("__ac_fb")).agg(count(lit(1)).as("__ac_new"))
            val axis = df.sparkSession.range(startB, endB + 1).toDF("__ac_axis")
              .join(perBin, col("__ac_axis") === col("__ac_b"), "left")
              .join(firstSeen, col("__ac_axis") === col("__ac_fb"), "left")
              .select(col("__ac_axis"),
                coalesce(col("__ac_c"), lit(0L)).as("count"),
                coalesce(col("__ac_d"), lit(0L)).as("dcount"),
                coalesce(col("__ac_new"), lit(0L)).as("new_dcount"))
            axis.select(
              timestamp_micros(col("__ac_axis") * lit(binUs)).as(tsCol),
              col("count"), col("dcount"), col("new_dcount"),
              sum(col("new_dcount")).over(
                org.apache.spark.sql.expressions.Window.orderBy(col("__ac_axis"))
                  .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
                .as("aggregated_dcount"))
          case "funnel_sequence" =>
            // funnel_sequence(IdCol, TimelineCol, Start, End,
            // MaxStepWindow, Bin, StateCol, dynamic(['s1', …, 'sk'])) —
            // Kusto's before/after funnel analysis: find every
            // occurrence of the exact state sequence in each id's
            // serialized timeline (IMMEDIATELY consecutive events, each
            // consecutive gap ≤ MaxStepWindow) and report what state
            // came immediately before and after each occurrence.
            // Pinned determinizations: serialization order is
            // (ts, state) (Kusto leaves ties unspecified); overlapping
            // occurrences each count; prev/next at the timeline edges
            // are empty strings (oracle-comparable, never null-ordered);
            // the occurrence is binned by ITS START time (the Bin arg).
            // Kusto emits three result tables — pinned to the
            // prev/next matrix (the primary one) keyed by
            // (bin, prev, next) with sequence + id counts. Scale shape:
            // ONE hash shuffle on the id (all lead/lag chains share the
            // window), one (bin, prev, next) aggregate; never a
            // self-join, never per-id arrays.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val winUs = timespanMicros(); expect(",")
            val binUs = timespanMicros(); expect(",")
            val stCol = ident(); expect(",")
            if (ident() != "dynamic")
              throw new KqlParseException("funnel_sequence: sequence must be a dynamic(['…']) literal")
            expect("("); expect("[")
            val seq = sepBy1(() => {
              val t = next()
              if (t.kind != "str")
                throw new KqlParseException("funnel_sequence: sequence elements must be string literals")
              t.text
            })
            expect("]"); expect(")"); expect(")")
            if (seq.isEmpty || seq.length > 16)
              throw new KqlParseException("funnel_sequence: sequence must have 1..16 steps")
            if (winUs <= 0 || binUs <= 0)
              throw new KqlParseException("funnel_sequence: windows must be positive")
            val k = seq.length
            val startUs = startI.getEpochSecond * 1000000L + startI.getNano / 1000L
            val endUs = endI.getEpochSecond * 1000000L + endI.getNano / 1000L
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(idCol)).orderBy(col(tsCol).asc, col(stCol).asc)
            val inRange = df.where(unix_micros(col(tsCol)).between(startUs, endUs))
            val stateOk = (0 until k).map { i =>
              (if (i == 0) col(stCol) else lead(col(stCol), i).over(w)) === lit(seq(i))
            }.reduce(_ && _)
            val gapsOk = (1 until k).map { i =>
              (lead(unix_micros(col(tsCol)), i).over(w) -
                lead(unix_micros(col(tsCol)), i - 1).over(w)) <= lit(winUs)
            }.foldLeft(lit(true))(_ && _)
            inRange
              .withColumn("__fs_m", stateOk && gapsOk)
              .withColumn("__fs_prev", coalesce(lag(col(stCol), 1).over(w), lit("")))
              .withColumn("__fs_next", coalesce(lead(col(stCol), k).over(w), lit("")))
              .where(col("__fs_m"))
              .groupBy(
                timestamp_micros(floor(unix_micros(col(tsCol)) / lit(binUs.toDouble))
                  .cast("long") * lit(binUs)).as(tsCol),
                col("__fs_prev").as("prev"), col("__fs_next").as("next"))
              .agg(count(lit(1)).as("count_sequences"),
                countDistinct(col(idCol)).as("dcount_ids"))
          case "funnel_sequence_completion" =>
            // funnel_sequence_completion(IdCol, TimelineCol, Start, End,
            // BinSize, StateCol, dynamic(['s1', …, 'sk']),
            // dynamic([p1, …, pm])) — Kusto's period-compared completion
            // funnel: per id, the greedy-earliest completion times
            // t1..tk of the state sequence (step i strictly after step
            // i−1, all events inside [Start, End] inclusive — the same
            // range rule as funnel_sequence); then for each max-period
            // p_j and each BinSize bin of t1, the number of ids whose
            // prefix 1..i completed within p_j of the sequence start
            // (t_i − t1 ≤ p_j). Output: `period` (pinned to the
            // timespan's MICROSECONDS as long — this engine's timespan
            // carrier), the binned TimelineCol, and one long count
            // column per step named by its state; columns form a
            // non-increasing funnel left to right. Scale shape:
            // ops.Funnel.earliest is ONE hash shuffle on the id (the
            // chained per-step window minima share that partitioning);
            // the per-id t-table (≤ 1 row per funnel entrant) explodes
            // over the ≤16-element period literal axis and aggregates
            // once on (period, bin) — fan-out m, never data².
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val binUs = timespanMicros(); expect(",")
            val stCol = ident(); expect(",")
            if (ident() != "dynamic")
              throw new KqlParseException("funnel_sequence_completion: sequence must be a dynamic(['…']) literal")
            expect("("); expect("[")
            val seq = sepBy1(() => {
              val t = next()
              if (t.kind != "str")
                throw new KqlParseException("funnel_sequence_completion: sequence elements must be string literals")
              t.text
            })
            expect("]"); expect(")"); expect(",")
            if (ident() != "dynamic")
              throw new KqlParseException("funnel_sequence_completion: periods must be a dynamic([…]) literal of timespans")
            expect("("); expect("[")
            val periods = sepBy1(() => timespanMicros())
            expect("]"); expect(")"); expect(")")
            if (seq.isEmpty || seq.length > 16)
              throw new KqlParseException("funnel_sequence_completion: sequence must have 1..16 steps")
            if (seq.distinct.length != seq.length)
              throw new KqlParseException("funnel_sequence_completion: sequence states must be distinct (they name output columns)")
            if (periods.isEmpty || periods.length > 16 || periods.exists(_ <= 0))
              throw new KqlParseException("funnel_sequence_completion: 1..16 positive periods required")
            if (binUs <= 0)
              throw new KqlParseException("funnel_sequence_completion: bin size must be positive")
            val startUs = startI.getEpochSecond * 1000000L + startI.getNano / 1000L
            val endUs = endI.getEpochSecond * 1000000L + endI.getNano / 1000L
            val inRange = df.where(unix_micros(col(tsCol)).between(startUs, endUs))
            val t = graft.ops.Funnel.earliest(inRange, col(idCol), col(tsCol), col(stCol), seq)
            val aggs = seq.zipWithIndex.map { case (s, i) =>
              count(when(col(s"t${i + 1}").isNotNull &&
                (unix_micros(col(s"t${i + 1}")) - unix_micros(col("t1"))) <= col("__fc_p"), 1)).as(s)
            }
            t.withColumn("__fc_p", explode(array(periods.map(lit(_)): _*)))
              .groupBy(col("__fc_p").as("period"),
                timestamp_micros(floor(unix_micros(col("t1")) / lit(binUs.toDouble))
                  .cast("long") * lit(binUs)).as(tsCol))
              .agg(aggs.head, aggs.tail: _*)
          case "active_users_count" =>
            // active_users_count(IdCol, TimelineCol, Start, End,
            // LookbackWindow, Period, ActivePeriodsCount, Bin) —
            // Kusto's sliding-lookback engagement counter: at each
            // report bin T, count ids active in ≥ ActivePeriodsCount
            // DISTINCT periods whose period-start falls in
            // (T − Lookback, T] (membership by period start, pinned).
            // Scale shape: ONE distinct (id, period) aggregate; the
            // report axis (≤ 1024 bins, loud cap) broadcast-crosses the
            // activity table with the window filter — fan-out per
            // activity is lookback/bin, never data²; then one
            // (bin, id) agg + one bin agg, zero-filled on the axis.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val lookUs = timespanMicros(); expect(",")
            val periodUs = timespanMicros(); expect(",")
            val minPeriods = number(); expect(",")
            val binUs = timespanMicros(); expect(")")
            if (binUs <= 0 || periodUs <= 0 || lookUs <= 0 || minPeriods <= 0)
              throw new KqlParseException("active_users_count: windows and count must be positive")
            val startUs = startI.getEpochSecond * 1000000L + startI.getNano / 1000L
            val endUs = endI.getEpochSecond * 1000000L + endI.getNano / 1000L
            val startB = Math.floorDiv(startUs, binUs)
            val endB = Math.floorDiv(endUs, binUs)
            if (endB < startB || endB - startB > 1024)
              throw new KqlParseException("active_users_count: bad axis (empty or > 1024 bins)")
            val acts = df
              .where(unix_micros(col(tsCol)).between(startUs, endUs))
              .select(col(idCol).as("__au_id"),
                floor(unix_micros(col(tsCol)) / lit(periodUs.toDouble)).cast("long").as("__au_p"))
              .distinct()
            val axis = df.sparkSession.range(startB, endB + 1).toDF("__au_k")
            val joined = acts.crossJoin(broadcast(axis))
              .where(col("__au_p") * lit(periodUs) <= col("__au_k") * lit(binUs) &&
                col("__au_p") * lit(periodUs) > col("__au_k") * lit(binUs) - lit(lookUs))
            val counts = joined
              .groupBy(col("__au_k"), col("__au_id"))
              .agg(countDistinct(col("__au_p")).as("__au_np"))
              .where(col("__au_np") >= minPeriods)
              .groupBy(col("__au_k")).agg(countDistinct(col("__au_id")).as("__au_d"))
            axis.join(counts, Seq("__au_k"), "left")
              .select(timestamp_micros(col("__au_k") * lit(binUs)).as(tsCol),
                coalesce(col("__au_d"), lit(0L)).as("dcount"))
          case "activity_metrics" =>
            // activity_metrics(IdCol, TimelineCol, Start, End, Window)
            // — per window: distinct active ids, distinct FIRST-seen ids
            // (within the [Start, End] slice, the counts-metrics
            // stance), and the backward-looking retention/churn pair
            // PINNED as retention(t) = |A(t) ∩ A(t−1)| / |A(t−1)|,
            // churn(t) = 1 − retention(t); 0.0 when the previous window
            // is empty or absent (first window). Scale shape: ONE
            // distinct (id, bin) aggregate, the retained/new flags ride
            // ONE id-keyed window (lag/row_number share it — a node's
            // previous ACTIVE bin being t−1 is exactly membership in
            // A(t)∩A(t−1)), one bin hash agg, and an unkeyed lag over
            // the ≤1e6-row AXIS only — never a self-join, never a
            // data-sized window.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val binUs = timespanMicros()
            expect(")")
            if (binUs <= 0)
              throw new KqlParseException("activity_metrics: window must be positive")
            val startB = Math.floorDiv(startI.getEpochSecond * 1000000L + startI.getNano / 1000L, binUs)
            val endB = Math.floorDiv(endI.getEpochSecond * 1000000L + endI.getNano / 1000L, binUs)
            if (endB < startB || endB - startB > 1000000L)
              throw new KqlParseException("activity_metrics: bad axis (empty or > 1e6 bins)")
            val acts = df.select(col(idCol).as("__am_id"),
                floor(unix_micros(col(tsCol)) / lit(binUs.toDouble)).cast("long").as("__am_b"))
              .where(col("__am_b").between(startB, endB))
              .distinct()
            val wId = org.apache.spark.sql.expressions.Window
              .partitionBy(col("__am_id")).orderBy(col("__am_b").asc)
            val flagged = acts.select(col("__am_b"),
              (lag(col("__am_b"), 1).over(wId) === col("__am_b") - 1).as("__am_ret"),
              (row_number().over(wId) === 1).as("__am_new"))
            val perBin = flagged.groupBy(col("__am_b")).agg(
              count(lit(1)).as("__am_d"),
              count(when(col("__am_ret"), lit(1))).as("__am_r"),
              count(when(col("__am_new"), lit(1))).as("__am_n"))
            val wAxis = org.apache.spark.sql.expressions.Window.orderBy(col("__am_axis"))
            df.sparkSession.range(startB, endB + 1).toDF("__am_axis")
              .join(perBin, col("__am_axis") === col("__am_b"), "left")
              .select(col("__am_axis"),
                coalesce(col("__am_d"), lit(0L)).as("__am_d"),
                coalesce(col("__am_r"), lit(0L)).as("__am_r"),
                coalesce(col("__am_n"), lit(0L)).as("__am_n"))
              .withColumn("__am_prevd", lag(col("__am_d"), 1).over(wAxis))
              .select(
                timestamp_micros(col("__am_axis") * lit(binUs)).as(tsCol),
                col("__am_d").as("dcount_values"),
                col("__am_n").as("dcount_newvalues"),
                when(coalesce(col("__am_prevd"), lit(0L)) === 0L, lit(0.0))
                  .otherwise(col("__am_r").cast("double") / col("__am_prevd"))
                  .as("retention_rate"),
                when(coalesce(col("__am_prevd"), lit(0L)) === 0L, lit(0.0))
                  .otherwise((col("__am_prevd") - col("__am_r")).cast("double") / col("__am_prevd"))
                  .as("churn_rate"))
          case "new_activity_metrics" =>
            // new_activity_metrics(IdCol, TimelineCol, Start, End, Bin)
            // — Kusto's cohort retention/churn matrix: the cohort NEW at
            // window `from` (first appearance in the [Start, End] slice,
            // pinned) is tracked at every window `to` ≥ from:
            // retained = new-at-from ∩ active-at-to,
            // churn = new-at-from ∖ active-at-to,
            // retention_rate = retained/new, churn_rate = churn/new
            // (0.0 when the cohort is empty, pinned). Scale shape: ONE
            // distinct (id, bin) aggregate, one id-keyed join of
            // activities to their cohort bin, ONE (from, to) hash agg —
            // the id never fans out past its own activity count; the
            // (from, to) matrix is axis², joined small-side and
            // zero-filled, never data-sized.
            val idCol = ident(); expect(",")
            val tsCol = ident(); expect(",")
            val startI = pluginDatetime(); expect(",")
            val endI = pluginDatetime(); expect(",")
            val binUs = timespanMicros()
            expect(")")
            if (binUs <= 0)
              throw new KqlParseException("new_activity_metrics: bin must be positive")
            val startB = Math.floorDiv(startI.getEpochSecond * 1000000L + startI.getNano / 1000L, binUs)
            val endB = Math.floorDiv(endI.getEpochSecond * 1000000L + endI.getNano / 1000L, binUs)
            if (endB < startB || endB - startB > 1024)
              throw new KqlParseException(
                "new_activity_metrics: bad axis (empty or > 1024 bins — the output is axis²)")
            val acts = df.select(col(idCol).as("__na_id"),
                floor(unix_micros(col(tsCol)) / lit(binUs.toDouble)).cast("long").as("__na_b"))
              .where(col("__na_b").between(startB, endB))
              .distinct()
            val firstB = acts.groupBy(col("__na_id")).agg(min(col("__na_b")).as("__na_f"))
            val ret = acts.join(firstB, "__na_id")
              .groupBy(col("__na_f"), col("__na_b"))
              .agg(countDistinct(col("__na_id")).as("__na_ret"))
            val newPer = ret.where(col("__na_f") === col("__na_b"))
              .select(col("__na_f").as("__na_nf"), col("__na_ret").as("__na_new"))
            val axis = df.sparkSession.range(startB, endB + 1).toDF("__na_from")
              .crossJoin(df.sparkSession.range(startB, endB + 1).toDF("__na_to"))
              .where(col("__na_from") <= col("__na_to"))
            axis
              .join(newPer, col("__na_from") === col("__na_nf"), "left")
              .join(ret, col("__na_from") === col("__na_f") && col("__na_to") === col("__na_b"), "left")
              .select(
                timestamp_micros(col("__na_from") * lit(binUs)).as(s"from_$tsCol"),
                timestamp_micros(col("__na_to") * lit(binUs)).as(s"to_$tsCol"),
                coalesce(col("__na_new"), lit(0L)).as("dcount_new_values"),
                coalesce(col("__na_ret"), lit(0L)).as("dcount_retained_values"),
                (coalesce(col("__na_new"), lit(0L)) - coalesce(col("__na_ret"), lit(0L)))
                  .as("dcount_churn_values"),
                when(coalesce(col("__na_new"), lit(0L)) === 0L, lit(0.0))
                  .otherwise(coalesce(col("__na_ret"), lit(0L)).cast("double") /
                    col("__na_new")).as("retention_rate"),
                when(coalesce(col("__na_new"), lit(0L)) === 0L, lit(0.0))
                  .otherwise((col("__na_new") - coalesce(col("__na_ret"), lit(0L))).cast("double") /
                    col("__na_new")).as("churn_rate"))
          case "rolling_percentile" =>
            // rolling_percentile(ValueCol, Percentile, TimelineCol, Bin,
            // BinsPerWindow) — per bin t, the exact interpolated
            // percentile of ValueCol over the trailing BinsPerWindow
            // bins (t−W, t]. Scale shape: each event explodes to its ≤W
            // target bins (W capped at 64 — this inflates RAW rows, the
            // heaviest plugin here) and ONE percentile aggregate runs
            // per bin; bins whose trailing window is empty are absent,
            // as in Kusto. Exact percentile, same kernel as
            // summarize percentile().
            val valCol = ident(); expect(",")
            val pTok = next()
            if (pTok.kind != "num")
              throw new KqlParseException("rolling_percentile: percentile must be a number literal")
            val p = pTok.text.toDouble
            if (p < 0 || p > 100)
              throw new KqlParseException(s"rolling_percentile: P must be 0..100, got $p")
            expect(",")
            val tsCol = ident(); expect(",")
            val binUs = timespanMicros(); expect(",")
            val wTok = next()
            if (wTok.kind != "num")
              throw new KqlParseException("rolling_percentile: BinsPerWindow must be a number literal")
            val w = wTok.text.toInt
            expect(")")
            if (binUs <= 0 || w <= 0 || w > 64)
              throw new KqlParseException(
                s"rolling_percentile: BinsPerWindow must be 1..64 (got $w; raw-row inflation)")
            val ev = df.select(col(valCol).as("__rp_v"),
              floor(unix_micros(col(tsCol)) / lit(binUs.toDouble)).cast("long").as("__rp_b"))
            val contrib = ev.select(col("__rp_v"),
              explode(sequence(col("__rp_b"), col("__rp_b") + lit((w - 1).toLong))).as("__rp_t"))
            contrib.groupBy(col("__rp_t"))
              .agg(percentile(col("__rp_v"), lit(p / 100.0)).as(s"rolling_${p.toLong}_$valCol"))
              .select(timestamp_micros(col("__rp_t") * lit(binUs)).as(tsCol),
                col(s"rolling_${p.toLong}_$valCol"))
          case "pivot" =>
            val pcol = ident()
            expect(",")
            val fn = ident(); expect("(")
            val argCol = if (peekIs(")")) None else Some(ident())
            expect(")")
            val aggC = (fn, argCol) match {
              case ("count", None) => count(lit(1))
              case ("sum", Some(c)) => sum(col(c))
              case ("avg", Some(c)) => avg(col(c))
              case ("min", Some(c)) => min(col(c))
              case ("max", Some(c)) => max(col(c))
              case ("dcount", Some(c)) => countDistinct(col(c))
              case _ => throw new KqlParseException(
                s"evaluate pivot supports count()/sum(c)/avg(c)/min(c)/max(c)/dcount(c), got '$fn'")
            }
            // trailing args: STRING literals pin the output value set
            // (this engine's deterministic q87 form); IDENTIFIERS are
            // Kusto's group-by column list (default: every column not
            // consumed by the pivot)
            val outs = List.newBuilder[String]
            val groupCols = List.newBuilder[String]
            while (peekIs(",")) {
              expect(",")
              val t = next()
              if (t.kind == "str") outs += t.text
              else if (t.kind == "id") groupCols += t.text
              else throw new KqlParseException(
                "pivot trailing args must be output-value string literals or group-by column names")
            }
            expect(")")
            val gc = groupCols.result()
            val keys =
              if (gc.nonEmpty) gc.toArray
              else df.columns.filterNot(c => c == pcol || argCol.contains(c))
            val grouped = df.groupBy(keys.map(col): _*)
            val piv = outs.result() match {
              // Kusto's default form: infer the column set. ONE bounded
              // distinct job on the pivot column (spark.sql.pivotMaxValues
              // caps it, loud error past that — the toscalar-class
              // bounded driver read), values sorted → deterministic schema.
              case Nil => grouped.pivot(pcol)
              case vs => grouped.pivot(pcol, vs)
            }
            piv.agg(aggC)
          case "narrow" =>
            // `evaluate narrow()` — transpose to (Row, Column, Value)
            // with every value as string (Kusto's debug/display shape).
            // Row ids come from row_number over the preceding sort —
            // like serialize, a distributed engine has no stable natural
            // order, so an explicit order by is required. Lowered as ONE
            // explode of a per-row struct array: no shuffle beyond the
            // serialization window.
            expect(")")
            if (lastOrder.isEmpty)
              throw new KqlParseException(
                "evaluate narrow() requires a preceding 'order by' (no stable natural order)")
            val items = lastOrder.get
            val w = org.apache.spark.sql.expressions.Window.orderBy(items.map(_(df)): _*)
            val pairs = array(df.columns.map(c =>
              struct(lit(c).as("Column"), col(c).cast("string").as("Value"))): _*)
            df.withColumn("Row", (row_number().over(w) - 1).cast("long"))
              .select(col("Row"), explode(pairs).as("__p"))
              .select(col("Row"), col("__p.Column").as("Column"), col("__p.Value").as("Value"))
          case "bag_unpack" =>
            // `evaluate bag_unpack(Col [, 'prefix'])` — expand a dynamic
            // (JSON-text) column into one typed column per key, dropping
            // the bag column (Kusto semantics). Kusto infers the output
            // schema from the DATA; here inference reads a bounded
            // sample (1000 rows) through Spark's JSON schema reader at
            // COMPILE time — the same deliberate bounded-driver-action
            // class as toscalar(). The unpack itself is from_json + a
            // flat projection: map-only, codegen'd, zero shuffle.
            val bagCol = ident()
            val prefix =
              if (peekIs(",")) {
                expect(",")
                val t = next()
                if (t.kind != "str") throw new KqlParseException("bag_unpack prefix must be a string literal")
                t.text
              } else ""
            expect(")")
            val sp = df.sparkSession
            import sp.implicits._
            val sample = df.select(col(bagCol).cast("string")).limit(1000).as[String]
            val inferred = sp.read.json(sample).schema
            val fields = inferred.fields.filterNot(_.name.startsWith("_corrupt"))
            if (fields.isEmpty)
              throw new KqlParseException(s"bag_unpack('$bagCol'): no keys inferable from the sample")
            val clash = fields.map(prefix + _.name).find(df.columns.contains)
            clash.foreach(c => throw new KqlParseException(
              s"bag_unpack output column '$c' collides with an existing column"))
            val parsed = from_json(col(bagCol).cast("string"),
              org.apache.spark.sql.types.StructType(fields))
            val keep = df.columns.filterNot(_ == bagCol).map(col)
            // one flat projection; the repeated from_json collapses via
            // common-subexpression elimination in codegen
            df.select((keep ++ fields.map(f =>
              parsed.getField(f.name).as(prefix + f.name))): _*)
          case "basket" =>
            // `evaluate basket(threshold)` — Kusto's frequent-pattern
            // miner over the current columns: every attribute subset
            // (null = wildcard, shown as '*') whose support reaches
            // threshold × rowcount, with Count and Percent appended.
            // Kusto approximates with Apriori; this engine computes the
            // lattice EXACTLY as one cube aggregate (2^n grouping sets
            // share a single shuffle — n is the projected column count,
            // small by construction) and takes the total from the cube's
            // own grand-total row via a window, so nothing runs driver-
            // side. Distinguishing limitation vs Kusto: genuinely-null
            // attribute values also read as wildcard (document, don't
            // guess — project nulls away first).
            val t = next()
            if (t.kind != "num") throw new KqlParseException("basket threshold must be a number literal")
            val threshold = t.text.toDouble
            if (threshold <= 0 || threshold >= 1)
              throw new KqlParseException("basket threshold must be in (0, 1)")
            expect(")")
            val cols = df.columns
            if (cols.length > 8)
              throw new KqlParseException(
                s"basket over ${cols.length} columns (2^n grouping sets) — project to at most 8 first")
            Seq("Count", "Percent").find(cols.contains).foreach(c =>
              throw new KqlParseException(s"basket output column '$c' collides with an existing column"))
            val full = (1 << cols.length) - 1
            val cubed = df.cube(cols.map(col): _*)
              .agg(count(lit(1)).as("Count"), grouping_id().as("__gid"))
            val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
            cubed
              .withColumn("__total", max(when(col("__gid") === full, col("Count"))).over(wAll))
              .where(col("__gid") =!= full && col("Count") >= lit(threshold) * col("__total"))
              .select(cols.map(c => coalesce(col(c).cast("string"), lit("*")).as(c)) ++ Seq(
                col("Count"),
                round(lit(100.0) * col("Count") / col("__total"), 6).as("Percent")): _*)
          case "autocluster" =>
            // `evaluate autocluster([SizeWeight])` — Kusto's common-pattern
            // miner: a SMALL set of attribute patterns (null/'*' =
            // wildcard) balancing coverage (high Percent) against
            // informativeness (many set attributes). Kusto's segment
            // selection is proprietary; this engine pins a deterministic
            // rule over the SAME exact lattice basket builds (one cube
            // aggregate, one shuffle): score = (Count/Total)·w +
            // (setAttrs/nCols)·(1−w), top 10 by (score, Count, attrs)
            // with SegmentId in rank order. The cube is capped loudly at
            // 8 columns, like basket.
            val w =
              if (peekIs(")")) 0.5
              else {
                val t = next()
                if (t.kind != "num") throw new KqlParseException("autocluster SizeWeight must be a number literal")
                val v = t.text.toDouble
                if (v <= 0 || v >= 1) throw new KqlParseException("autocluster SizeWeight must be in (0, 1)")
                v
              }
            expect(")")
            val cols = df.columns
            if (cols.length > 8)
              throw new KqlParseException(
                s"autocluster over ${cols.length} columns (2^n grouping sets) — project to at most 8 first")
            Seq("SegmentId", "Count", "Percent").find(cols.contains).foreach(c =>
              throw new KqlParseException(s"autocluster output column '$c' collides with an existing column"))
            val full = (1 << cols.length) - 1
            val nc = cols.length
            val cubed = df.cube(cols.map(col): _*)
              .agg(count(lit(1)).as("Count"), grouping_id().as("__gid"),
                cols.map(c => grouping(col(c))).reduce(_ + _).as("__nwild"))
            val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
            val scored = cubed
              .withColumn("__total", max(when(col("__gid") === full, col("Count"))).over(wAll))
              .where(col("__gid") =!= full)
              .withColumn("__score",
                col("Count").cast("double") / col("__total") * lit(w) +
                  (lit(nc) - col("__nwild")).cast("double") / lit(nc) * lit(1 - w))
            val ord = org.apache.spark.sql.expressions.Window.orderBy(
              (Seq(col("__score").desc, col("Count").desc) ++
                cols.map(c => coalesce(col(c).cast("string"), lit("*")).asc)): _*)
            scored
              .withColumn("SegmentId", (row_number().over(ord) - 1).cast("long"))
              .where(col("SegmentId") < 10)
              .select(Seq(col("SegmentId"), col("Count"),
                round(lit(100.0) * col("Count") / col("__total"), 6).as("Percent")) ++
                cols.map(c => coalesce(col(c).cast("string"), lit("*")).as(c)): _*)
          case "diffpatterns" =>
            // `evaluate diffpatterns(SplitCol, 'A', 'B' [, threshold])` —
            // Kusto's two-slice differential miner: patterns over the
            // remaining columns whose slice-relative frequency differs
            // between slice A and slice B. ONE cube with conditional
            // counts (both slices share the shuffle); totals from the
            // cube's own grand-total row. Pinned deterministic spec (the
            // reference algorithm is proprietary): keep patterns with
            // |PercentA − PercentB| ≥ 100·threshold (default 0.05), order
            // by that diff desc with attribute tie-breaks, SegmentId in
            // rank order. Same loud 8-column cube cap as basket.
            val splitCol = ident(); expect(",")
            def strLit(what: String): String = {
              val t = next()
              if (t.kind != "str") throw new KqlParseException(s"diffpatterns $what must be a string literal")
              t.text
            }
            val valA = strLit("SplitValueA"); expect(",")
            val valB = strLit("SplitValueB")
            val threshold =
              if (peekIs(",")) {
                expect(",")
                val t = next()
                if (t.kind != "num") throw new KqlParseException("diffpatterns threshold must be a number literal")
                val v = t.text.toDouble
                if (v <= 0 || v >= 1) throw new KqlParseException("diffpatterns threshold must be in (0, 1)")
                v
              } else 0.05
            expect(")")
            if (!df.columns.contains(splitCol))
              throw new KqlParseException(s"diffpatterns split column '$splitCol' not found")
            val cols = df.columns.filterNot(_ == splitCol)
            if (cols.isEmpty)
              throw new KqlParseException("diffpatterns needs at least one attribute column besides the split")
            if (cols.length > 8)
              throw new KqlParseException(
                s"diffpatterns over ${cols.length} columns (2^n grouping sets) — project to at most 8 first")
            Seq("SegmentId", "CountA", "CountB", "PercentA", "PercentB", "PercentDiffAB")
              .find(df.columns.contains).foreach(c =>
                throw new KqlParseException(s"diffpatterns output column '$c' collides with an existing column"))
            val full = (1 << cols.length) - 1
            val sliced = df.where(col(splitCol).cast("string").isin(valA, valB))
            val cubed = sliced.cube(cols.map(col): _*)
              .agg(
                count(when(col(splitCol).cast("string") === valA, 1)).as("CountA"),
                count(when(col(splitCol).cast("string") === valB, 1)).as("CountB"),
                grouping_id().as("__gid"))
            val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
            val pct = cubed
              .withColumn("__totA", max(when(col("__gid") === full, col("CountA"))).over(wAll))
              .withColumn("__totB", max(when(col("__gid") === full, col("CountB"))).over(wAll))
              .where(col("__gid") =!= full)
              .withColumn("PercentA",
                when(col("__totA") > 0, lit(100.0) * col("CountA") / col("__totA")).otherwise(lit(0.0)))
              .withColumn("PercentB",
                when(col("__totB") > 0, lit(100.0) * col("CountB") / col("__totB")).otherwise(lit(0.0)))
              .withColumn("__diff", col("PercentA") - col("PercentB"))
              .where(abs(col("__diff")) >= lit(100.0 * threshold))
            val ord = org.apache.spark.sql.expressions.Window.orderBy(
              (Seq(abs(col("__diff")).desc) ++
                cols.map(c => coalesce(col(c).cast("string"), lit("*")).asc)): _*)
            pct
              .withColumn("SegmentId", (row_number().over(ord) - 1).cast("long"))
              .select(Seq(col("SegmentId"), col("CountA"), col("CountB"),
                round(col("PercentA"), 6).as("PercentA"),
                round(col("PercentB"), 6).as("PercentB"),
                round(col("__diff"), 6).as("PercentDiffAB")) ++
                cols.map(c => coalesce(col(c).cast("string"), lit("*")).as(c)): _*)
          case "dcount_intersect" =>
            // `evaluate dcount_intersect(hll1, hll2 [, hll3])` —
            // Kusto's cumulative-intersection estimator over hll
            // sketch columns: s0 = |A|, s1 = |A∩B|, s2 = |A∩B∩C| via
            // inclusion-exclusion on union estimates (the only
            // mergeable-sketch route to an intersection). Map-only —
            // the sketches were aggregated upstream; estimates clamp
            // at 0 (inclusion-exclusion can go slightly negative).
            val cols = sepBy1(() => ident())
            expect(")")
            if (cols.length < 2 || cols.length > 3)
              throw new KqlParseException("dcount_intersect() expects 2 or 3 hll columns")
            def est(c: String) = hll_sketch_estimate(col(c))
            def u2(a: String, b: String) =
              hll_sketch_estimate(hll_union(col(a), col(b)))
            val s0 = est(cols(0))
            val s1 = greatest(lit(0L), est(cols(0)) + est(cols(1)) - u2(cols(0), cols(1)))
            val outs =
              if (cols.length == 2) Seq(s0.as("s0"), s1.as("s1"))
              else {
                val u012 = hll_sketch_estimate(
                  hll_union(hll_union(col(cols(0)), col(cols(1))), col(cols(2))))
                val s2 = greatest(lit(0L),
                  est(cols(0)) + est(cols(1)) + est(cols(2)) -
                    u2(cols(0), cols(1)) - u2(cols(0), cols(2)) - u2(cols(1), cols(2)) +
                    u012)
                Seq(s0.as("s0"), s1.as("s1"), s2.as("s2"))
              }
            val keep = df.columns.filterNot(cols.contains).map(col).toSeq
            df.select(keep ++ outs: _*)
          case "ipv4_lookup" =>
            // `evaluate ipv4_lookup(LookupTable, SourceIPCol, IPKeyCol
            //  [, ExtraKey1, …] [, return_unmatched = true|false])` —
            // Kusto's CIDR lookup with LONGEST-PREFIX-MATCH semantics.
            // Scale shape (the classic distributed LPM join): the
            // lookup is a DIM table by contract (Kusto caps it at 1M
            // rows), so its distinct prefix lengths (≤ 33) broadcast-
            // cross the probe — ≤ |lens| row inflation, typically 2-5 —
            // and the prepped (len, net)-keyed lookup broadcast-joins;
            // the longest match survives via ONE probe-row-keyed window.
            // No per-row UDF, no driver fetch, no range cross-product.
            // Duplicate (len, net) lookup rows all survive at the
            // winning length (deterministic; Kusto keeps one arbitrary).
            val lookup = subquery()
            expect(",")
            val srcCol = ident()
            expect(",")
            val keyCol = ident()
            var extraKeys = List.empty[String]
            var retUnmatched = false
            while (peekIs(",")) {
              expect(",")
              val t = ident()
              if (t == "return_unmatched") {
                if (peekIs("=")) { expect("=")
                  retUnmatched = ident() match {
                    case "true" => true
                    case "false" => false
                    case o => throw new KqlParseException(s"return_unmatched expects true/false, got '$o'")
                  }
                } else retUnmatched = true
              } else extraKeys :+= t
            }
            expect(")")
            import org.apache.spark.sql.expressions.Window
            val kc = col(keyCol)
            val prepped = lookup
              .withColumn("__g_len", coalesce(
                when(kc.contains("/"), substring_index(kc, "/", -1).cast("int")), lit(32)))
              .withColumn("__g_net", ipv4WithPrefix(kc, lit(32)))
              .where(col("__g_net").isNotNull && col("__g_len").between(0, 32))
            val lens = prepped.select("__g_len").distinct()
            val withId = df.withColumn("__g_rid", monotonically_increasing_id())
            val probeNet = {
              val ip = ipv4WithPrefix(substring_index(col(srcCol), "/", 1), lit(32))
              val blk = pow(lit(2.0), (lit(32) - col("__g_len")).cast("double")).cast("long")
              ip - pmod(ip, blk)
            }
            val joined = withId.crossJoin(broadcast(lens))
              .withColumn("__g_net", probeNet)
              .join(broadcast(prepped), Seq("__g_len", "__g_net") ++ extraKeys, "inner")
            val matched = joined
              .withColumn("__g_max", max(col("__g_len")).over(Window.partitionBy(col("__g_rid"))))
              .where(col("__g_len") === col("__g_max"))
              .drop("__g_len", "__g_net", "__g_max")
            if (!retUnmatched) matched.drop("__g_rid")
            else {
              val lookupCols = prepped.columns.filterNot(c =>
                c == "__g_len" || c == "__g_net" || extraKeys.contains(c))
              val right = matched.select(("__g_rid" +: lookupCols).map(col): _*)
              withId.join(right, Seq("__g_rid"), "left").drop("__g_rid")
            }
          case "geo_line_lookup" =>
            // `evaluate geo_line_lookup(LookupTable, LineKeyCol,
            //  SourceLonCol, SourceLatCol, radius [, return_unmatched =
            //  true|false])` — the line-proximity spatial-join plugin:
            // each source point joins every lookup line within `radius`
            // meters. Scale shape (the q239 stance): the dim lines are
            // covered ONCE at level 8 and the covering is EXPANDED with
            // each cell's 8 neighbors; because the pinned radius cap
            // (20 km) is below the level-8 minimum cell width (~27 km),
            // any point within radius of a line lies in a covering cell
            // or one of its neighbors — candidacy is complete, and the
            // exact spherical geo_distance_point_to_line ≤ radius refine
            // keeps only true matches. The exploded (cell → lookup row)
            // table broadcasts; the probe computes one cell and
            // equi-joins — no cross product, no per-row UDF.
            val lookup = subquery()
            expect(",")
            val lineCol = ident(); expect(",")
            val lonCol = ident(); expect(",")
            val latCol = ident(); expect(",")
            val radB = expr()
            var retUnmatched = false
            while (peekIs(",")) {
              expect(",")
              val t = ident()
              if (t == "return_unmatched") {
                if (peekIs("=")) { expect("=")
                  retUnmatched = ident() match {
                    case "true" => true
                    case "false" => false
                    case o => throw new KqlParseException(s"return_unmatched expects true/false, got '$o'")
                  }
                } else retUnmatched = true
              } else throw new KqlParseException(
                s"geo_line_lookup supports the return_unmatched option, got '$t'")
            }
            expect(")")
            import org.apache.spark.sql.GraftColumnBridge
            val Level = 8
            // the radius is the plugin's per-invocation constant: evaluate
            // it once and enforce the completeness cap loudly
            val radius: Double = {
              val one = lookup.sparkSession.range(1).toDF("__r")
              val v = one.select(radB(one).cast("double")).head().get(0)
              if (v == null) throw new KqlParseException("geo_line_lookup: radius must be a constant")
              v.asInstanceOf[Double]
            }
            if (!(radius > 0.0 && radius <= 20000.0))
              throw new KqlParseException(
                "geo_line_lookup: radius must be in (0, 20000] m — the level-8 " +
                "covering's completeness bound (min cell width ~27 km)")
            val cov = GraftColumnBridge.column(graft.functions.S2LineCover(
              GraftColumnBridge.catalystExpression(col(lineCol).cast("string")), Level))
            val withNbrs = array_distinct(concat(cov, flatten(transform(cov, c =>
              GraftColumnBridge.column(graft.functions.S2CellNeighbors(
                GraftColumnBridge.catalystExpression(c)))))))
            val prepped = lookup.withColumn("__gl_cell", explode(withNbrs))
            val withId = df.withColumn("__gl_rid", monotonically_increasing_id())
            val probed = withId.withColumn("__gl_cell", GraftColumnBridge.column(
              graft.functions.S2CellToken(
                GraftColumnBridge.catalystExpression(col(lonCol).cast("double")),
                GraftColumnBridge.catalystExpression(col(latCol).cast("double")), Level)))
            val near = GraftColumnBridge.column(graft.functions.GeoDistancePointToLine(
              GraftColumnBridge.catalystExpression(col(lonCol).cast("double")),
              GraftColumnBridge.catalystExpression(col(latCol).cast("double")),
              GraftColumnBridge.catalystExpression(col(lineCol).cast("string")))) <= lit(radius)
            val matched = probed
              .join(broadcast(prepped), Seq("__gl_cell"), "inner")
              .where(near)
              .drop("__gl_cell")
            if (!retUnmatched) matched.drop("__gl_rid")
            else {
              val lookupCols = prepped.columns.filterNot(c =>
                c == "__gl_cell" || withId.columns.contains(c))
              val right = matched.select(("__gl_rid" +: lookupCols.toSeq).map(col): _*)
              withId.join(right, Seq("__gl_rid"), "left").drop("__gl_rid")
            }
          case "geo_polygon_lookup" =>
            // `evaluate geo_polygon_lookup(LookupTable, PolygonKeyCol,
            //  SourceLonCol, SourceLatCol [, return_unmatched =
            //  true|false])` — the polygon spatial-join plugin: each
            // source point joins every lookup polygon containing it.
            // Scale shape (the covering join q230 gates end-to-end):
            // the lookup is a DIM table by contract (Kusto caps it), so
            // its polygons are covered ONCE with level-8 S2 cells
            // (~70 km — small polygons cover 1-4 cells; the 65536 cap
            // drops a malformed/continental polygon loudly via null
            // covering) and the exploded (cell → lookup row) table
            // BROADCASTS; the probe side computes one point cell and
            // equi-joins — no cross product, no per-row UDF — then the
            // exact even-odd refine keeps true containment (level only
            // affects candidate count, never correctness). Overlapping
            // polygons yield one row per match (Kusto's stance).
            val lookup = subquery()
            expect(",")
            val polyCol = ident(); expect(",")
            val lonCol = ident(); expect(",")
            val latCol = ident()
            var retUnmatched = false
            while (peekIs(",")) {
              expect(",")
              val t = ident()
              if (t == "return_unmatched") {
                if (peekIs("=")) { expect("=")
                  retUnmatched = ident() match {
                    case "true" => true
                    case "false" => false
                    case o => throw new KqlParseException(s"return_unmatched expects true/false, got '$o'")
                  }
                } else retUnmatched = true
              } else throw new KqlParseException(
                s"geo_polygon_lookup supports the return_unmatched option, got '$t'")
            }
            expect(")")
            import org.apache.spark.sql.GraftColumnBridge
            val Level = 8
            val prepped = lookup
              .withColumn("__gp_cell", explode(GraftColumnBridge.column(
                graft.functions.S2PolygonCover(
                  GraftColumnBridge.catalystExpression(col(polyCol).cast("string")), Level))))
            val withId = df.withColumn("__gp_rid", monotonically_increasing_id())
            val probed = withId.withColumn("__gp_cell", GraftColumnBridge.column(
              graft.functions.S2CellToken(
                GraftColumnBridge.catalystExpression(col(lonCol).cast("double")),
                GraftColumnBridge.catalystExpression(col(latCol).cast("double")), Level)))
            // native even-odd kernel — this is the per-candidate-pair
            // filter of the spatial join, the plugin's hot inner loop
            val inside = GraftColumnBridge.column(graft.functions.GeoPointInPolygon(
              GraftColumnBridge.catalystExpression(col(lonCol).cast("double")),
              GraftColumnBridge.catalystExpression(col(latCol).cast("double")),
              GraftColumnBridge.catalystExpression(col(polyCol).cast("string"))))
            val matched = probed
              .join(broadcast(prepped), Seq("__gp_cell"), "inner")
              .where(inside)
              .drop("__gp_cell")
            if (!retUnmatched) matched.drop("__gp_rid")
            else {
              val lookupCols = prepped.columns.filterNot(c =>
                c == "__gp_cell" || withId.columns.contains(c))
              val right = matched.select(("__gp_rid" +: lookupCols.toSeq).map(col): _*)
              withId.join(right, Seq("__gp_rid"), "left").drop("__gp_rid")
            }
          case "sequence_detect" =>
            // `evaluate sequence_detect(TimelineCol, MaxStepWindow,
            //  MaxSequenceGap, boolCol1, …, boolColN) by KeyCol` —
            // Kusto's sequence-detection plugin over precomputed boolean
            // step columns (greedy earliest core, graft.ops.Funnel
            // .sequenceDetect). The key rides an explicit trailing `by`
            // (step and key arguments are both bare column names, so an
            // in-paren key list would be ambiguous).
            val tsName = ident(); expect(",")
            val stepWin = timespanMicros(); expect(",")
            val totalGap = timespanMicros(); expect(",")
            val stepNames = sepBy1(() => ident())
            expect(")")
            expect("by")
            val keyName = ident()
            if (df.isStreaming) {
              // STREAMING source (round 20): the plugin carries its own
              // key (`by`) and event-time axis (the timeline argument),
              // so unlike scan it needs no partition-by/order-by — only
              // the explicit lateness bound. Emits each key's earliest
              // completion the moment its last step matches; in-horizon
              // batch/stream parity pinned by StreamOpsSpec.
              val wmUs = streamingWatermarkUs.getOrElse(throw new KqlParseException(
                "sequence_detect over a streaming source requires an explicit " +
                "lateness bound: `set streaming_watermark = <timespan>;` " +
                "(engine extension)"))
              graft.streaming.StreamOps.streamingSequenceDetect(df, keyName, tsName,
                s"${wmUs / 1000L} milliseconds",
                streamingHorizonUs.map(_ / 1000L).getOrElse(3600000L),
                stepNames.map(n => n -> col(n)), stepWin, totalGap)
            } else
              graft.ops.Funnel.sequenceDetect(df, keyName, col(tsName),
                stepNames.map(n => n -> col(n)), stepWin, totalGap)
          case "schema_merge" =>
            // `evaluate schema_merge()` over a union of getschema
            // outputs (ColumnName/ColumnOrdinal/DataType rows): one row
            // per column name; agreeing types keep the type, conflicts
            // surface as 'conflict' (loud, never silently coerced);
            // ordinal = the minimum observed. One hash aggregate.
            expect(")")
            df.groupBy(col("ColumnName"))
              .agg(min(col("ColumnOrdinal")).as("ColumnOrdinal"),
                when(countDistinct(col("DataType")) === 1, first(col("DataType")))
                  .otherwise(lit("conflict")).as("DataType"))
              .select(col("ColumnName"), col("ColumnOrdinal"), col("DataType"))
          case "diffpatterns_text" =>
            // `evaluate diffpatterns_text(TextCol, SplitCondition
            //  [, MinDiffPercent])` — differential text patterns between
            // the condition-true and condition-false slices. Pinned to
            // the DIFFERENTIAL-TOKEN core (documented restriction, the
            // basket/autocluster stance): tokens are lowercased
            // whitespace splits deduped per row; for each token the
            // slice presence percentages and their absolute difference;
            // rows with diff ≥ the threshold, callers order by diff.
            // (Kusto's wildcard token-SEQUENCE patterns subsume this;
            // single-token patterns are its dominant output class.)
            // Scale: one explode + ONE token hash agg (conditional
            // sums; Zipf head absorbs map-side), totals are one
            // broadcast row — no pair joins, no driver fetch.
            val txtB = expr(); expect(",")
            val condB = expr()
            val thr: Double =
              if (peekIs(",")) {
                expect(",")
                val t = next()
                if (t.kind != "num") throw new KqlParseException("diffpatterns_text threshold must be a number literal")
                t.text.toDouble
              } else 0.0
            expect(")")
            val t0 = df.withColumn("__dp_s", condB(df)).where(col("__dp_s").isNotNull)
            val tot = t0.agg(
              sum(when(col("__dp_s"), 1).otherwise(0)).cast("double").as("__dp_na"),
              sum(when(!col("__dp_s"), 1).otherwise(0)).cast("double").as("__dp_nb"))
            val toks = t0.select(col("__dp_s"),
                explode(array_distinct(split(lower(txtB(t0)), "\\s+"))).as("__dp_tok"))
              .where(length(col("__dp_tok")) > 0)
            val counts = toks.groupBy(col("__dp_tok"))
              .agg(sum(when(col("__dp_s"), 1L).otherwise(0L)).as("__dp_ca"),
                sum(when(!col("__dp_s"), 1L).otherwise(0L)).as("__dp_cb"))
            val pa = lit(100.0) * col("__dp_ca") / col("__dp_na")
            val pb = lit(100.0) * col("__dp_cb") / col("__dp_nb")
            counts.crossJoin(broadcast(tot))
              .where(abs(pa - pb) >= thr)
              .select(col("__dp_tok").as("token"),
                col("__dp_ca").as("count_a"), col("__dp_cb").as("count_b"),
                round(pa, 4).as("percent_a"), round(pb, 4).as("percent_b"),
                round(abs(pa - pb), 4).as("diff"))
          case "preview" =>
            // `evaluate preview(N)` — Kusto's two-result preview: an
            // N-row sample plus the total row count. Both tables land in
            // multiOut (the fork/facet contract, read via compileMulti);
            // the single-frame compile returns the sample. The sample is
            // a plain limit (no sort — Kusto previews are arbitrary
            // rows; limit takes the first partitions scanned, never a
            // global shuffle) and the count is one partial+final agg.
            val n = number(); expect(")")
            if (n < 0) throw new KqlParseException("preview() count must be >= 0")
            val sample = df.limit(n)
            val cnt = df.agg(count(lit(1)).as("Count"))
            multiOut += (("preview", sample))
            multiOut += (("preview_count", cnt))
            sample
          case "rows_near" =>
            // `evaluate rows_near(Condition, NumRows [, RowsAfter])
            //  [by Key, …]` — Kusto's context-window plugin: keep every
            // row within NumRows BEFORE and RowsAfter (default NumRows)
            // AFTER a row satisfying Condition, plus the condition rows
            // themselves. A serialized operator in Kusto, so like `scan`
            // it requires an explicit preceding `order by`; the trailing
            // `by` key list (engine extension, the sequence_detect shape)
            // distributes the matching per key with ONE hash shuffle.
            // Lowering is a single window aggregate — a row is kept iff
            // max(Condition) over ROWS BETWEEN RowsAfter PRECEDING AND
            // NumRows FOLLOWING is true (a preceding condition row at
            // distance ≤ RowsAfter means *this* row is within RowsAfter
            // after it, and vice versa). No self-join, no explode: the
            // cost is one sort per partition regardless of match count.
            val condB = expr(); expect(",")
            val before = number()
            val after = if (peekIs(",")) { expect(","); number() } else before
            expect(")")
            if (before < 0 || after < 0)
              throw new KqlParseException("rows_near window sizes must be >= 0")
            val nearKeys: List[Column] =
              if (peekIs("by")) { expect("by"); sepBy1(() => ident()).map(col(_)) }
              else Nil
            if (lastOrder.isEmpty)
              throw new KqlParseException(
                "rows_near requires a preceding 'order by' (no stable natural order in a distributed engine)")
            if (nearKeys.isEmpty)
              warn("rows_near without a trailing 'by' key lowers to ONE global " +
                "partition (Kusto's serialized-input semantics); add `by Key` " +
                "to distribute the context windows per key")
            val ordCols = lastOrder.get.map(_(df))
            val w0 =
              if (nearKeys.isEmpty)
                org.apache.spark.sql.expressions.Window.orderBy(ordCols: _*)
              else org.apache.spark.sql.expressions.Window
                .partitionBy(nearKeys: _*).orderBy(ordCols: _*)
            val w = w0.rowsBetween(-after.toLong, before.toLong)
            df.withColumn("__rn_keep",
                max(condB(df).cast(org.apache.spark.sql.types.BooleanType)).over(w))
              .where(col("__rn_keep")).drop("__rn_keep")
          case "funnel" =>
            val k = ident(); expect(",")
            val ts = ident(); expect(",")
            val st = ident()
            val steps = List.newBuilder[String]
            while (peekIs(",")) {
              expect(",")
              val t = next()
              if (t.kind != "str") throw new KqlParseException("funnel steps must be string literals")
              steps += t.text
            }
            expect(")")
            val ss = steps.result()
            if (ss.isEmpty) throw new KqlParseException("funnel needs at least one step literal")
            graft.ops.Funnel.earliest(df, col(k), col(ts), col(st), ss)
          case other => throw new KqlParseException(s"unsupported evaluate plugin '$other'")
        }
      case "take" | "limit" => df.limit(number())
      case "distinct" =>
        if (peek.isEmpty || peekIs("|")) df.distinct()
        else if (peekIs("*")) { expect("*"); df.distinct() }
        else { val items = sepBy1(projItem); df.select(items.map(_(df)): _*).distinct() }
      case "getschema" =>
        // Kusto's schema probe: one row per column
        val sp = df.sparkSession
        import sp.implicits._
        df.schema.fields.zipWithIndex.toSeq
          .map { case (f, i) => (f.name, i.toLong, f.dataType.simpleString) }
          .toDF("ColumnName", "ColumnOrdinal", "DataType")
      case "join" =>
        // `join [kind=K] [hint.strategy=broadcast|shuffle]
        //  [hint.shufflekey=col] (sub) on k1, k2` — key-equality joins
        // (the form dashboards use). Kinds map onto Spark join types;
        // innerunique (Kusto's DEFAULT kind) dedups the LEFT side to one
        // row per key before the inner join. Kusto keeps "an arbitrary
        // row"; arbitrary is non-reproducible in a distributed engine, so
        // — exactly like take_any — this engine pins it to the MINIMUM
        // full row (min over a struct of the non-key columns in schema
        // order): deterministic across runs/partitionings, and the dedup
        // aggregate shuffles on the JOIN key, so the exchange feeds the
        // join directly. rightsemi/rightanti have no Spark join type: they
        // lower by SWAPPING sides into left_semi/left_anti (same rows,
        // same preserved columns). Hints map onto Spark's plan hints:
        // Kusto's broadcast strategy broadcasts the LEFT side
        // (docs: "distributes the left table"), shuffle/shufflekey pins
        // a shuffle hash join — both advisory, exactly as in Kusto.
        var kind = "inner"
        var strategy: Option[String] = None
        var more = true
        while (more) {
          if (peekIs("kind")) { expect("kind"); expect("="); kind = ident() }
          else if (peekIs("hint")) {
            expect("hint"); expect("."); val h = ident(); expect("=")
            val v = ident()
            h match {
              case "strategy" =>
                if (v != "broadcast" && v != "shuffle")
                  throw new KqlParseException(s"unsupported join strategy '$v'")
                strategy = Some(v)
              case "shufflekey" => strategy = Some("shuffle") // key comes from `on`
              case other => throw new KqlParseException(s"unsupported join hint '$other'")
            }
          } else more = false
        }
        val sparkKind = kind match {
          case "inner" | "innerunique" => "inner"
          case "leftouter" => "left"
          case "rightouter" => "right"
          case "fullouter" => "full"
          case "leftanti" | "anti" => "left_anti"
          case "leftsemi" => "left_semi"
          case "rightanti" => "right_anti"
          case "rightsemi" => "right_semi"
          case other => throw new KqlParseException(s"unsupported join kind '$other'")
        }
        val right = subquery()
        expect("on")
        // each key is either a bare Name (same column both sides —
        // Kusto's shorthand, lowered as a using-join that keeps ONE key
        // column) or the explicit `$left.A == $right.B` form (either
        // side order). Any explicit pair switches the whole join to the
        // condition form, where Kusto keeps BOTH sides' columns and
        // renames right-side duplicates with a `1` suffix — replicated
        // here with an explicit post-join projection.
        val keyPairs = sepBy1 { () =>
          if (peekIs("$")) {
            expect("$"); val s1 = ident(); expect("."); val n1 = ident()
            expect("=="); expect("$"); val s2 = ident(); expect("."); val n2 = ident()
            (s1, s2) match {
              case ("left", "right") => (n1, n2, false)
              case ("right", "left") => (n2, n1, false)
              case _ => throw new KqlParseException(
                "join key must relate $left and $right (e.g. $left.a == $right.b)")
            }
          } else { val n = ident(); (n, n, true) }
        }
        val keys = keyPairs.map(_._1)
        val leftBase =
          if (kind != "innerunique") df
          else {
            val others = df.columns.filterNot(keys.contains).toSeq
            if (others.isEmpty) df.dropDuplicates(keys)
            else df.groupBy(keys.map(df(_)): _*)
              .agg(min(struct(others.map(df(_)): _*)).as("__iu"))
              .select(df.columns.toSeq.map(c =>
                if (keys.contains(c)) col(c) else col("__iu").getField(c).as(c)): _*)
          }
        val left = strategy match {
          case Some("broadcast") => org.apache.spark.sql.functions.broadcast(leftBase)
          case Some("shuffle") => leftBase.hint("shuffle_hash")
          case _ => leftBase
        }
        if (keyPairs.forall(_._3)) sparkKind match {
          case "right_semi" => right.join(left, keys, "left_semi")
          case "right_anti" => right.join(left, keys, "left_anti")
          case k => left.join(right, keys, k)
        } else {
          // alias both plans so self-joins resolve (same-lineage
          // attributes are ambiguous without qualified names)
          val l = left.alias("__gl")
          val r = right.alias("__gr")
          def lc(c: String) = col(s"__gl.`$c`")
          def rc(c: String) = col(s"__gr.`$c`")
          val cond = keyPairs.map { case (a, b, _) => lc(a) === rc(b) }.reduce(_ && _)
          sparkKind match {
            case "right_semi" => r.join(l, cond, "left_semi")
            case "right_anti" => r.join(l, cond, "left_anti")
            case "left_semi" | "left_anti" => l.join(r, cond, sparkKind)
            case k =>
              val lCols = left.columns.toSeq.map(c => lc(c).as(c))
              val rCols = right.columns.toSeq.map(c =>
                if (left.columns.contains(c)) rc(c).as(c + "1") else rc(c).as(c))
              l.join(r, cond, k).select(lCols ++ rCols: _*)
          }
        }
      case "union" =>
        // `union [withsource=Col] T1 [, T2 …]` — KQL union merges by
        // column NAME, filling missing with null; withsource labels each
        // row with the table/subquery it came from. The left pipeline is
        // labeled with its head table/let name when it started from a
        // bare reference (tracked in headName); anonymous inputs —
        // generators, parenthesized subqueries — get Kusto's 'union'
        // fallback label.
        val leftLabel = headName.getOrElse("union")
        val withSource =
          if (peekIs("withsource")) {
            expect("withsource"); expect("=")
            Some(ident())
          } else None
        final case class Part(name: String, d: DataFrame)
        def part(): Part =
          if (peekIs("(")) Part("union", subquery())
          else { val n = ident(); Part(n, resolveName(n)) }
        val parts = sepBy1(() => part())
        withSource match {
          case None =>
            parts.map(_.d).foldLeft(df)(_.unionByName(_, allowMissingColumns = true))
          case Some(srcCol) =>
            val left = df.withColumn(srcCol, lit(leftLabel))
            parts.map(p => p.d.withColumn(srcCol, lit(p.name)))
              .foldLeft(left)(_.unionByName(_, allowMissingColumns = true))
        }
      case "as" =>
        // `| as name` — bind the pipeline-so-far to a name usable later
        // in this query (Kusto's mid-pipeline binding). Pure plan
        // aliasing: nothing materializes.
        lets(ident()) = df
        df
      case "partition" =>
        // `partition [hint.strategy=shuffle|native|legacy] by Key
        //  ( <subpipeline> )` — Kusto's per-partition subquery,
        // GENERALIZED. Never a per-value subplan loop (Kusto's legacy
        // strategy, O(distinct keys) scans — unusable at scale): every
        // inner operator is rewritten into its keyed equivalent so the
        // whole thing stays ONE plan with one hash shuffle on the key:
        //   - row-local ops (where/extend/project*/mv-*/parse*) apply
        //     unchanged — per-partition and global are identical;
        //   - `summarize aggs [by cols]` groups by (Key, cols); Kusto's
        //     output schema keeps only the subquery's own columns, so
        //     the injected Key is dropped unless the by-list names it;
        //   - `top N by …` / `order by … | take N` → ONE row_number
        //     window partitioned by Key;
        //   - bare `take N` pins per-key "arbitrary rows" to xxhash64
        //     row order (the engine's q96 `sample` stance — Kusto's
        //     pick is non-reproducible in a distributed engine);
        //   - `count` → one Count row per partition (Key dropped);
        //   - `scan …` → the keyed scan path (see the scan-specific
        //     case above).
        // Strategy hints are accepted and advisory — this lowering IS
        // the shuffle strategy; `legacy` gets the same plan.
        while (peekIs("hint")) {
          expect("hint"); expect("."); val h = ident(); expect("=")
          val v = ident()
          if (h != "strategy" || !Set("shuffle", "native", "legacy")(v))
            throw new KqlParseException(s"unsupported partition hint '$h=$v'")
        }
        expect("by")
        val pkey = ident()
        expect("(")
        var cur = df
        var innerOrder: Option[Seq[ColB]] = None // pending `order by` for a following take
        var first = true
        while (!peekIs(")")) {
          if (!first) expect("|")
          first = false
          val innerOp = ident()
          // a pending inner `order by` is only meaningful feeding take
          if (innerOrder.isDefined && innerOp != "take" && innerOp != "limit")
            throw new KqlParseException(
              "inside partition, 'order by' must be followed by 'take N' " +
              "(per-partition order is not observable otherwise; put 'order by' after the partition operator)")
          innerOp match {
            case "summarize" =>
              val aggs = sepBy1(() => aggItemMulti()).flatten
              val keys = if (peekIs("by")) { expect("by"); sepBy1(projItem) } else Nil
              val keyCols = keys.map(_(cur))
              val keyNames = keyCols.map(c => cur.select(c).columns.head)
              val aggCols = aggs.map(_(cur))
              cur =
                if (keyNames.contains(pkey))
                  cur.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
                else
                  cur.groupBy((col(pkey) +: keyCols): _*)
                    .agg(aggCols.head, aggCols.tail: _*).drop(pkey)
            case "count" =>
              cur = cur.groupBy(col(pkey)).agg(count(lit(1)).as("Count")).select("Count")
            case "top" =>
              val n = number(); expect("by")
              val items = sepBy1(orderItem)
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(pkey)).orderBy(items.map(_(cur)): _*)
              cur = cur.withColumn("__prn", row_number().over(w))
                .where(col("__prn") <= n).drop("__prn")
            case "order" | "sort" =>
              expect("by")
              innerOrder = Some(sepBy1(orderItem))
            case "take" | "limit" =>
              val n = number()
              val ord: Seq[org.apache.spark.sql.Column] = innerOrder match {
                case Some(items) => items.map(_(cur))
                case None => Seq(xxhash64(cur.columns.map(col).toSeq: _*).asc)
              }
              innerOrder = None
              val w = org.apache.spark.sql.expressions.Window
                .partitionBy(col(pkey)).orderBy(ord: _*)
              cur = cur.withColumn("__prn", row_number().over(w))
                .where(col("__prn") <= n).drop("__prn")
            case "scan" =>
              cur = scanOp(cur, Seq(col(pkey)))
            case "extend" if toks.lift(pos + 2).exists(t =>
                t.kind == "id" && t.text == "row_window_session") =>
              cur = rowWindowSessionOp(cur, Seq(col(pkey)))
            case rowLocal @ ("where" | "filter" | "project" | "extend" | "mv" | "parse") =>
              cur = pipeOpNamed(rowLocal, cur)
            case other =>
              throw new KqlParseException(
                s"unsupported operator '$other' inside partition " +
                "(supported: where/extend/project*/mv-*/parse*/summarize/top/order+take/take/count/scan)")
          }
        }
        if (innerOrder.isDefined)
          throw new KqlParseException(
            "inside partition, 'order by' must be followed by 'take N' " +
            "(per-partition order is not observable otherwise; put 'order by' after the partition operator)")
        expect(")")
        cur
      case "graph" =>
        // Kusto graph semantics: `graph-match [pattern] [where …]
        // project …` and `graph-to-table nodes|edges`, consuming the
        // make-graph pair. Pattern: `(a)-[e]->(b)`, chained hops,
        // backward arrows `<-[e]-`, and bounded variable length
        // `-[e*1..3]->`. Lowering is pure relational: each hop is ONE
        // hash equi-join of the edge table on the node id (the
        // distributed plan a 100-TB graph needs — per-hop shuffles on
        // the join key, no driver-side traversal); node/edge aliases
        // bind as STRUCT columns so `a.prop` resolves through the
        // native-struct dot path; a variable-length binding is the
        // ARRAY of its hop edges (`array_length(e)`, `e[0].prop`).
        // Variable length unions one join chain per length (loud cap),
        // matching Kusto's default cycles=matches (nodes/edges may
        // repeat along a path); a REPEATED node alias constrains those
        // positions to the same node, which is how cycle patterns like
        // (a)-[e1]->(b)-[e2]->(a) are written in Kusto.
        expect("-")
        ident() match {
          case "to" =>
            expect("-"); expect("table")
            val g = pendingGraph.getOrElse(throw new KqlParseException(
              "graph-to-table requires a preceding make-graph"))
            pendingGraph = None
            ident() match {
              case "nodes" => g.nodes
              case "edges" => g.edges
              case other => throw new KqlParseException(
                s"graph-to-table expects nodes or edges, got '$other'")
            }
          case "match" =>
            val g = pendingGraph.getOrElse(throw new KqlParseException(
              "graph-match requires a preceding make-graph"))
            pendingGraph = None
            runGraphPattern(g, None)
          case "mark" =>
            // `graph-mark-components [kind=weak] [with_component_id=Col]`
            // — the third Kusto graph operator: labels every node with
            // its (weakly) connected component. The graph STAYS pending
            // with the augmented node table, exactly as in Kusto — follow
            // with graph-to-table nodes, or graph-match where the
            // component is a node property. Component id pinned to the
            // MINIMUM node id in the component (take_any stance).
            // kind=weak: the q41 machinery — alternating large-star/
            // small-star contraction, O(log n) rounds on any graph
            // shape, O(1) driver checksums only. kind=strong:
            // forward-backward anchor peeling (ops.StronglyConnected) —
            // per round a trim pass plus two min-label fixpoints, every
            // min-anchored SCC resolves simultaneously.
            expect("-"); expect("components")
            val g = pendingGraph.getOrElse(throw new KqlParseException(
              "graph-mark-components requires a preceding make-graph"))
            var compCol = "ComponentId"
            var strong = false
            var more2 = true
            while (more2) {
              if (peekIs("kind")) {
                expect("kind"); expect("=")
                val k = ident()
                if (k != "weak" && k != "strong") throw new KqlParseException(
                  s"graph-mark-components kind must be weak or strong, got '$k'")
                strong = k == "strong"
              } else if (peekIs("with_component_id")) {
                expect("with_component_id"); expect("="); compCol = ident()
              } else more2 = false
            }
            val pairs = g.edges.select(col(g.srcCol), col(g.dstCol))
            // both kinds ride the size-gated driver-local kernels when
            // the gate admits (LocalGraph union-find — the q41/q57 call —
            // and Tarjan); the star-contraction / FW-BW fixpoints stay
            // the at-scale path.
            val comp =
              if (strong)
                graft.ops.StronglyConnected.components(pairs, localGraph)
                  .select(col("node").as("__gmc_id"), col("comp").as(compCol))
              else graft.queries.LlmQueries.connectedComponents(pairs, localGraph)
                .select(col("doc_id").as("__gmc_id"), col("cluster_rep").as(compCol))
            val marked = g.nodes
              .join(comp, g.nodes(g.idCol) === col("__gmc_id"), "left")
              .withColumn(compCol, coalesce(col(compCol), g.nodes(g.idCol)))
              .drop("__gmc_id")
            pendingGraph = Some(g.copy(nodes = marked, derivedNodes = false))
            df
          case "shortest" =>
            // `graph-shortest-paths [output=any|all] (a)-[e*1..n]->(b)
            //  where … project …` — shortest path per (source, target)
            // node pair among the paths the pattern admits. output=any
            // (default) keeps ONE shortest path per pair — Kusto says
            // "an arbitrary one"; this engine pins the minimum
            // (node-sequence, edge-content) path, the take_any stance —
            // output=all keeps every path of the minimum length.
            // Lowering rides the graph-match chains: each length is a
            // join chain; the winnow is ONE window over (src, dst) —
            // hops-ascending rank — so the whole operator adds exactly
            // one hash shuffle on the endpoint pair.
            expect("-"); expect("paths")
            val g = pendingGraph.getOrElse(throw new KqlParseException(
              "graph-shortest-paths requires a preceding make-graph"))
            pendingGraph = None
            var output = "any"
            if (peekIs("output")) {
              expect("output"); expect("=")
              output = ident()
              if (output != "any" && output != "all")
                throw new KqlParseException(s"graph-shortest-paths output must be any|all, got '$output'")
            }
            runGraphPattern(g, Some(output))
          case other => throw new KqlParseException(s"unsupported operator 'graph-$other'")
        }
      case "reduce" =>
        // `reduce by Expr [with threshold=…]` — Kusto's log-pattern
        // miner: groups similar strings under a '*'-wildcard pattern
        // with (Pattern, Count, Representative) output. Kusto's
        // clustering algorithm is proprietary; this engine pins a
        // DETERMINISTIC pattern rule (the same stance as autocluster/
        // take_any): every alphanumeric token containing a digit becomes
        // '*' — the token class that varies across log lines (ids,
        // counters, timestamps, guid segments) — and the representative
        // is the MINIMUM source string of the group. One regexp_replace
        // in the scan projection + one partial/final hash aggregate;
        // the Zipf-shaped pattern head absorbs map-side.
        expect("by")
        val src = expr()
        if (peekIs("with")) { // threshold accepted, irrelevant to the pinned rule
          expect("with"); expect("threshold"); expect("=")
          val t = next()
          if (t.kind != "num") throw new KqlParseException("reduce by: threshold must be a number")
        }
        val pat = regexp_replace(src(df),
          "[A-Za-z_]*[0-9][A-Za-z0-9_]*", "*")
        df.groupBy(pat.as("Pattern"))
          .agg(count(lit(1)).as("Count"), min(src(df)).as("Representative"))
      case "search" =>
        // `search 'term'` — case-insensitive substring match across ALL
        // string columns of the current table (Kusto's grep). One scan,
        // an OR of codegen'd contains probes; no regex unless the term
        // needs one.
        val t = next()
        if (t.kind != "str") throw new KqlParseException("search expects a string literal")
        import org.apache.spark.sql.types.StringType
        val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
        if (strCols.isEmpty) throw new KqlParseException("search: table has no string columns")
        df.filter(strCols.map(c => lower(col(c)).contains(t.text.toLowerCase)).reduce(_ || _))
      case "lookup" =>
        // `lookup [kind=leftouter|inner] (dim) on keys` — join against a
        // DIMENSION table: same key semantics as join, but the right side
        // is declared small, so it broadcasts (Kusto's distinction too)
        var kind = "left"
        if (peekIs("kind")) {
          expect("kind"); expect("=")
          kind = ident() match {
            case "leftouter" => "left"
            case "inner" => "inner"
            case other => throw new KqlParseException(s"lookup supports leftouter/inner, got '$other'")
          }
        }
        val dim = subquery()
        expect("on")
        val keys = sepBy1(() => ident())
        df.join(broadcast(dim), keys, kind)
      case "make" =>
        // `make-series name = agg() [default = lit] on tsCol from <const>
        //  to <const> step <timespan> [by keys]` — the gap-filled
        // timeseries operator Grafana panels are built on. from/to must
        // be datetime()/now()/ago() constants (Kusto practice), so the
        // axis is a parse-time literal. Lowering: filter to the window
        // (literal bounds → scan-pruned), ONE hash aggregate on
        // (keys, bin), a tiny keys×bins scaffold left-joined to fill
        // gaps with the default, and per-key ordered array assembly —
        // collect_list is bounded by the axis length, never by the data.
        expect("-")
        ident() match {
          case "series" => ()
          case "graph" =>
            // `make-graph SrcCol --> DstCol [with Nodes on IdCol]` —
            // Kusto's graph constructor (graph semantics extension). The
            // piped frame is the EDGE table; nodes come from the `with`
            // subquery, or default to the distinct edge endpoints under
            // a single `node_id` column. Nothing executes here: the pair
            // of plans parks in pendingGraph for the adjacent
            // graph-match / graph-to-table.
            val srcC = ident()
            expect("-"); expect("-"); expect(">")
            val dstC = ident()
            val (nodesDf, idC, derivedN) =
              if (peekIs("with")) {
                expect("with"); val n = subquery(); expect("on")
                val i = ident(); (n, i, false)
              } else {
                // explode(array(src,dst)), not union(select,select): ONE
                // pass over the edge table. The union form scans the edge
                // source twice IN ONE STAGE — against a persisted-but-
                // unfilled edge cache (materialize() lets) each branch
                // races to fill every partition, doubling the fill work
                // (measured 64×~330 ms tasks on q146's 1.2M-edge graph)
                val ids = df.select(explode(array(df(srcC), df(dstC))).as("node_id"))
                  .distinct()
                // derived: the node table is nothing but the endpoint
                // set, so graph lowerings may skip materializing it
                // (endpoint structs are just the id column)
                (ids, "node_id", true)
              }
            pendingGraph = Some(GraphCtx(df, nodesDf, srcC, dstC, idC, derivedN))
            return df
          case other => throw new KqlParseException(s"unsupported operator 'make-$other'")
        }
        // one or more `name = agg() [default = lit]` specs (Kusto's
        // multi-series form) — all aggregates share ONE hash shuffle
        // and ONE per-key array assembly
        val aggSpecs = sepBy1(() => {
          val aggName = ident(); expect("=")
          val aggB = expr()
          val default: Option[Any] =
            if (peekIs("default")) {
              expect("default"); expect("=")
              val neg = peekIs("-"); if (neg) expect("-")
              val t = next()
              if (t.kind != "num") throw new KqlParseException("make-series default must be a number literal")
              Some(if (t.text.contains('.')) { val d = t.text.toDouble; if (neg) -d else d }
                   else { val l = t.text.toLong; if (neg) -l else l })
            } else None
          (aggName, aggB, default)
        })
        expect("on"); val tname = ident()
        expect("from"); val fromI = constantInstant()
        expect("to"); val toI = constantInstant()
        expect("step"); val stepUs = timespanMicros()
        val keys = if (peekIs("by")) { expect("by"); sepBy1(() => ident()) } else Nil
        val fromUs = java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, fromI)
        val toUs = java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, toI)
        if (stepUs <= 0 || toUs <= fromUs)
          throw new KqlParseException("make-series needs to > from and step > 0")
        val nbins = (toUs - fromUs + stepUs - 1) / stepUs
        if (nbins > 1000000)
          throw new KqlParseException(s"make-series axis too long ($nbins bins)")
        val tsc = col(tname)
        val delta = unix_micros(tsc) - lit(fromUs)
        val binCol = ((delta - pmod(delta, lit(stepUs))) / lit(stepUs)).cast("long")
        val withBin = df.filter(tsc >= lit(fromI) && tsc < lit(toI)).withColumn("__bin", binCol)
        val aggCols = aggSpecs.zipWithIndex.map { case ((_, b, _), i) => b(withBin).as(s"__v$i") }
        val aggd = withBin.groupBy((keys.map(col) :+ col("__bin")): _*)
          .agg(aggCols.head, aggCols.tail: _*)
        val binsDf = df.sparkSession.range(nbins).select(col("id").as("__bin"))
        // Scaffold keys come from the window-FILTERED frame: Kusto derives
        // series groups only from in-range rows, so a key whose rows all
        // fall outside [from, to) must not emit an all-default series.
        val scaffold =
          if (keys.isEmpty) binsDf
          else withBin.select(keys.map(col): _*).distinct().crossJoin(binsDf)
        // null-safe key equality: a null-keyed series must keep its data
        // (an equi-join would orphan it onto a default-filled series)
        val vNames = aggSpecs.indices.map(i => s"__v$i")
        val filled =
          if (keys.isEmpty) scaffold.join(aggd, Seq("__bin"), "left")
          else {
            val cond = keys.map(k => scaffold(k) <=> aggd(k)).reduce(_ && _) &&
              scaffold("__bin") === aggd("__bin")
            scaffold.join(aggd, cond, "left")
              .select(((keys :+ "__bin").map(scaffold(_)) ++ vNames.map(aggd(_))): _*)
          }
        val full = aggSpecs.zipWithIndex.foldLeft(filled) { case (acc, ((_, _, d), i)) =>
          d.fold(acc)(dv => acc.withColumn(s"__v$i", coalesce(col(s"__v$i"), lit(dv))))
        }
        val sqlExpr = org.apache.spark.sql.functions.expr _ // parser's expr() shadows functions.expr
        val seriesAggs = aggSpecs.zipWithIndex.map { case ((name, _, _), i) =>
          sqlExpr(s"transform(sort_array(collect_list(struct(__bin, __v$i))), s -> s.__v$i)").as(name)
        }
        val grouped =
          if (keys.isEmpty) full.agg(seriesAggs.head, seriesAggs.tail: _*)
          else full.groupBy(keys.map(col): _*).agg(seriesAggs.head, seriesAggs.tail: _*)
        grouped.withColumn(tname, sqlExpr(
          s"transform(sequence(0, ${nbins - 1}L), i -> timestamp_micros(${fromUs}L + i * ${stepUs}L))"))
      case "parse" if peekIs("-") && toks.lift(pos + 1).exists(t => t.kind == "id" && t.text == "kv") =>
        // `parse-kv Expr as (k1:type1, …) with (pair_delimiter='c',
        //  kv_delimiter='c')` — Kusto's key-value extractor for
        // structured log lines. Each declared key lowers to ONE
        // codegen'd regexp_extract anchored at start-or-pair-delimiter
        // (so a key never matches inside another key's name), value =
        // run of non-pair-delimiter chars, cast to the declared type;
        // missing keys yield empty/null exactly as regexp_extract does
        // on both engines. Simple unquoted mode; single-char delimiters
        // (the dominant log shape — loud error otherwise).
        expect("-"); expect("kv")
        val src = expr()
        expect("as"); expect("(")
        import org.apache.spark.sql.types.{DataType => KvDT}
        def kvType(t: String): Option[KvDT] = t match {
          case "string" => None
          case "long" | "int" => Some(org.apache.spark.sql.types.LongType)
          case "real" | "double" => Some(org.apache.spark.sql.types.DoubleType)
          case "bool" | "boolean" => Some(org.apache.spark.sql.types.BooleanType)
          case "datetime" => Some(org.apache.spark.sql.types.TimestampType)
          case other => throw new KqlParseException(s"unsupported parse-kv type '$other'")
        }
        val keys = sepBy1(() => {
          val n = ident(); expect(":"); (n, kvType(ident()))
        })
        expect(")")
        var pairDelim = ","
        var kvDelim = "="
        if (peekIs("with")) {
          expect("with"); expect("(")
          sepBy1(() => {
            val p = ident(); expect("=")
            val t = next()
            if (t.kind != "str") throw new KqlParseException(s"parse-kv property '$p' must be a string literal")
            p match {
              case "pair_delimiter" => pairDelim = t.text
              case "kv_delimiter" => kvDelim = t.text
              case other => throw new KqlParseException(s"unsupported parse-kv property '$other'")
            }
          })
          expect(")")
        }
        if (pairDelim.length != 1 || kvDelim.length != 1)
          throw new KqlParseException("parse-kv delimiters must be single characters")
        keys.map(_._1).find(df.columns.contains).foreach(c =>
          throw new KqlParseException(s"parse-kv output column '$c' collides with an existing column"))
        def rxEsc(s: String): String = s.flatMap {
          case c if "\\^$.|?*+()[]{}".contains(c) => "\\" + c
          case c => c.toString
        }
        val s = src(df)
        val extracted = keys.map { case (k, dt) =>
          val pat = s"(?:^|${rxEsc(pairDelim)})${rxEsc(k)}${rxEsc(kvDelim)}([^${rxEsc(pairDelim)}]*)"
          val raw = regexp_extract(s, pat, 1)
          // try_cast: a missing key ('') or malformed value is null, as
          // Kusto's tolong/todouble — ANSI cast would throw mid-scan
          dt.fold(raw)(t => raw.try_cast(t)).as(k)
        }
        df.select(df.columns.map(col) ++ extracted: _*)
      case "parse" =>
        // `parse [kind=simple|regex] Expr with [lit] name1[:type]
        //  [lit name2[:type] …] [lit]`: each capture matches lazily up
        // to the next literal, the last one runs to end-of-string.
        // kind=regex treats the literal fragments as RAW regex (Kusto's
        // regex mode); simple mode quotes them. `parse-where` is the
        // filtering variant: rows that don't match the pattern are
        // DROPPED instead of null-filled. Lowers to ONE regex built at
        // parse time, probed once per extracted column —
        // regexp_extract is codegen'd, so the whole parse stays in the
        // scan/project pipeline.
        val dropNonMatching =
          if (peekIs("-")) {
            expect("-")
            if (ident() != "where") throw new KqlParseException("expected 'parse-where'")
            true
          } else false
        // kind=relaxed lowers like simple: both build type-aware capture
        // patterns (a `:long` capture matches digits, the Kusto rule),
        // and a non-matching row null-fills every output column instead
        // of erroring — Kusto's relaxed contract; its partial-prefix
        // match nulling is the documented subset boundary
        val regexMode =
          if (peekIs("kind")) {
            expect("kind"); expect("=")
            ident() match {
              case "simple" | "relaxed" => false
              case "regex" => true
              case other => throw new KqlParseException(s"unsupported parse kind '$other'")
            }
          } else false
        val src = expr()
        expect("with")
        val sb = new StringBuilder("^")
        val cols = List.newBuilder[(String, Int, Option[String])]
        var group = 0
        var scanning = true
        while (scanning) {
          peek match {
            case Some(t) if t.kind == "str" =>
              next()
              if (regexMode) {
                // raw fragment may contain its own capturing groups —
                // advance the group counter so named captures still map
                group += java.util.regex.Pattern.compile(t.text).matcher("").groupCount()
                sb ++= t.text
              } else sb ++= java.util.regex.Pattern.quote(t.text)
            case Some(t) if t.kind == "sym" && t.text == "*" =>
              // non-capturing skip (lazy up to the next literal)
              next(); sb ++= (if (peek.exists(_.kind == "str")) ".*?" else ".*")
            case Some(t) if t.kind == "id" =>
              val name = ident()
              val tpe = if (peekIs(":")) { expect(":"); Some(ident()) } else None
              group += 1
              // typed captures get TYPE-AWARE patterns in simple mode
              // (Kusto: `x:long` matches digits) — a row whose text does
              // not conform fails the WHOLE pattern and null-fills, so
              // the ANSI cast below can never see non-numeric input;
              // untyped/string/datetime captures stay lazy-to-next-literal
              // (greedy when last)
              val lazyCapture = peek.exists(_.kind == "str")
              val pat = tpe match {
                case Some("long") | Some("int") if !regexMode => "(-?\\d+)"
                case Some("real") | Some("double") if !regexMode =>
                  "(-?\\d+(?:\\.\\d+)?(?:[eE][-+]?\\d+)?)"
                case _ => if (lazyCapture) "(.*?)" else "(.*)"
              }
              sb ++= pat
              cols += ((name, group, tpe))
            case _ => scanning = false
          }
        }
        sb ++= "$"
        val pattern = sb.toString
        val base = if (dropNonMatching) df.filter(regexp_like(src(df), lit(pattern))) else df
        cols.result().foldLeft(base) { case (d, (name, g, tpe)) =>
          val raw = regexp_extract(src(d), pattern, g)
          // empty-capture guard: a non-matching row extracts '' for
          // every group; ANSI cast('') throws, Kusto null-fills —
          // convert only nonempty captures (the CaseWhen arm is the
          // lazy-eval point, the ipv6 oct() lesson)
          def conv(f: Column => Column) = when(raw =!= "", f(raw))
          d.withColumn(name, tpe.fold(raw) {
            case "long" | "int" => conv(_.cast("long"))
            case "real" | "double" => conv(_.cast("double"))
            case "datetime" => conv(c => try_to_timestamp(c))
            case "string" => raw
            case other => throw new KqlParseException(s"unsupported parse type '$other'")
          })
        }
      case "invoke" =>
        // `| invoke f()` — apply a `let f = (T:(*)) { … }` lambda to the
        // pipeline-so-far: the captured body compiles HERE with T bound
        // to the incoming frame (outer tables/lets stay resolvable).
        val fname = ident()
        expect("("); expect(")")
        val (params, bStart, bEnd) = funcLets.getOrElse(fname,
          throw new KqlParseException(s"invoke: no lambda let binding named '$fname'"))
        val param = params.head
        val sub = new Parser(toks.slice(bStart, bEnd),
          nm => if (nm == param) df else resolveName(nm),
          now, sessionHint, localGraph)
        val out = sub.statements()
        sub.expectEnd()
        out
      case "sample" =>
        // `sample N` / `sample-distinct N of Col`. Kusto samples
        // RANDOMLY; this engine pins the pick to a deterministic
        // pseudorandom order (xxhash64 of the row / the value) so runs
        // are reproducible and oracle-comparable — same determinism
        // upgrade as take_any→min. Lowers to orderBy(hash)+limit =
        // TakeOrderedAndProject: per-partition top-N + driver merge of
        // N rows, never a global sort — scale-safe at any input size.
        if (peekIs("-")) {
          expect("-")
          if (ident() != "distinct")
            throw new KqlParseException("expected 'sample-distinct'")
          val n = number(); expect("of"); val c = ident()
          df.select(col(c)).distinct()
            .orderBy(xxhash64(col(c)).asc, col(c).asc).limit(n)
        } else {
          val n = number()
          df.orderBy(xxhash64(struct(df.columns.map(col): _*)).asc).limit(n)
        }
      case "fork" =>
        // `| fork [name =] (op | op …) [name =] (…) …` — Kusto's fan-out:
        // every leg re-applies its operator chain to the SAME input plan.
        // Kusto returns one result table per leg; the single-DataFrame
        // pipeline form merges the legs with unionByName(allowMissing)
        // plus a `fork_source` label column, while compileMulti exposes
        // each leg as its own DataFrame. Scale: the input is ONE shared
        // subplan referenced N times — wrap it in a materialize() let
        // binding when the legs are expensive, otherwise Spark re-runs
        // the common prefix per leg (exactly Kusto's guidance for fork).
        val legs = List.newBuilder[(String, DataFrame)]
        var legIdx = 0
        def atLeg: Boolean = peekIs("(") ||
          (peek.exists(_.kind == "id") &&
           toks.lift(pos + 1).exists(t => t.text == "=" && t.kind == "sym"))
        if (!atLeg) throw new KqlParseException("fork needs at least one (sub-pipeline) leg")
        while (atLeg) {
          legIdx += 1
          val name =
            if (!peekIs("(")) { val n = ident(); expect("="); n } else s"fork_$legIdx"
          expect("(")
          var d = df
          var more = true
          while (more) { d = pipeOp(d); if (peekIs("|")) expect("|") else more = false }
          expect(")")
          legs += ((name, d))
        }
        val built = legs.result()
        multiOut ++= built
        built.map { case (n, d) => d.withColumn("fork_source", lit(n)) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
      case "facet" =>
        // `| facet by c1, c2 [with (op | op …)]` — one table per facet
        // column holding its distinct values + counts (each a partial+
        // final hash aggregate, no sort); the optional `with` leg is the
        // input run through the given operators. compileMulti returns the
        // typed per-column tables (named after the column, Kusto-style);
        // the pipeline form merges them as (facet_column, value, count_)
        // with values cast to string so the union is well-typed.
        expect("by")
        val fcols = sepBy1(() => ident())
        val withLeg =
          if (peekIs("with")) {
            expect("with"); expect("(")
            var d = df
            var more = true
            while (more) { d = pipeOp(d); if (peekIs("|")) expect("|") else more = false }
            expect(")")
            Some(d)
          } else None
        val tables = fcols.map(c => c -> df.groupBy(col(c)).agg(count(lit(1)).as("count_")))
        multiOut ++= tables
        withLeg.foreach(d => multiOut += (("facet_with", d)))
        tables.map { case (c, t) =>
          t.select(lit(c).as("facet_column"), col(c).cast("string").as("value"), col("count_"))
        }.reduce(_.unionByName(_))
      case other => throw new KqlParseException(s"unsupported operator '$other'")
    }

    /** Column wildcard pattern for project-keep/-reorder: id and `*`
      * tokens concatenate ("ev*", "*_id"); `*` matches any run. (Token
      * adjacency is not preserved, so "a *" equals "a*" — harmless for
      * column patterns.) */
    private def colPattern(): java.util.regex.Pattern = {
      val sb = new StringBuilder
      var going = true
      while (going) {
        peek match {
          case Some(t) if t.kind == "id" || t.kind == "num" =>
            next(); sb ++= java.util.regex.Pattern.quote(t.text)
          case Some(t) if t.text == "*" => next(); sb ++= ".*"
          case _ => going = false
        }
      }
      if (sb.isEmpty) throw new KqlParseException("expected a column pattern")
      java.util.regex.Pattern.compile(sb.toString)
    }

    /** Kusto `scan` — parse + lower (shared by the global form and
      * `partition by Key (scan …)`). See [[graft.ops.Funnel.scanEarliest]]
      * / [[graft.ops.Funnel.scanRunning]] for semantics + scale shape:
      *   scan [with_match_id=Col] [declare (v:type [= default], …)] with (
      *     step name [output=all|last|none]: predicate [=> v = expr, …]; … )
      * Runs over the serialized row order, so like `serialize` it requires
      * an explicit preceding sort (a distributed engine has no stable
      * natural order); with empty `partitionCols` the windows are the
      * documented opt-in global partition, with a key they hash-shuffle
      * once on it. */
    /** `extend S = row_window_session(ts, maxDur, idle [, restart])` —
      * the serialized sessionization scalar (semantics + scale shape on
      * [[graft.ops.Funnel.rowWindowSession]]). Serialize-class: needs
      * the explicit preceding sort, warns when unkeyed; the keyed form
      * is `partition by Key ( extend S = row_window_session(...) )`.
      * Kusto allows it mixed into a larger extend list; here it must
      * stand alone (documented subset — the lowering is a whole-frame
      * pass, not a column). */
    private def rowWindowSessionOp(df: DataFrame, partitionCols: Seq[Column]): DataFrame = {
      val outName = ident(); expect("="); expect("row_window_session"); expect("(")
      val tsB = expr(); expect(",")
      val maxFirstUs = timespanMicros(); expect(",")
      val idleUs = timespanMicros()
      val restart = if (peekIs(",")) { expect(","); Some(expr()) } else None
      expect(")")
      if (peekIs(","))
        throw new KqlParseException(
          "row_window_session must be the only assignment in its extend (whole-frame lowering)")
      if (lastOrder.isEmpty)
        throw new KqlParseException(
          "row_window_session requires a preceding 'order by' (no stable natural order in a distributed engine)")
      if (partitionCols.isEmpty && !df.isStreaming)
        warn("row_window_session without a partition key lowers to ONE global partition " +
          "(Kusto's serialized-input semantics); wrap it as " +
          "`partition by Key ( extend ... )` to distribute per-key sessionization")
      if (df.isStreaming) {
        // STREAMING source (round 19): lower to the flatMapGroupsWithState
        // counterpart — same contracts as the streaming scan (keyed,
        // ascending event-time order, explicit watermark), plus: the
        // session timestamp argument must BE the event-time column
        // (sessions are defined on the stream's own time axis)
        val (keyNames, tsName, delay, horizonMs, tiebreaks) =
          streamingStatefulArgs(df, partitionCols, "row_window_session")
        val tsArgName = org.apache.spark.sql.GraftColumnBridge.catalystExpression(tsB(df)) match {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => a.name
          case org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(parts)
              if parts.length == 1 => parts.head
          case other => throw new KqlParseException(
            s"streaming row_window_session timestamp must be a plain column, got: $other")
        }
        if (tsArgName != tsName) throw new KqlParseException(
          s"streaming row_window_session timestamp '$tsArgName' must be the " +
          s"event-time order column '$tsName'")
        graft.streaming.StreamOps.streamingRowWindowSession(df, keyNames, tsName,
          delay, horizonMs, maxFirstUs, idleUs, restart.map(_(df)), outName, tiebreaks)
      } else
        graft.ops.Funnel.rowWindowSession(df, partitionCols, lastOrder.get.map(_(df)),
          tsB(df), maxFirstUs, idleUs, restart.map(_(df)), outName)
    }

    private def scanOp(df: DataFrame, partitionCols: Seq[Column]): DataFrame = {
        // Kusto `scan`:
        //   scan [declare (v:type [= default], …)] with (
        //     step name: predicate [=> v = expr, …];
        //     … )
        // Runs over the serialized row order, so like `serialize` it
        // requires an explicit preceding sort (a distributed engine has
        // no stable natural order) and is a deliberate opt-in global
        // window (or keyed via `partition by`). Step predicates and
        // assignments may reference live step state (`stepName.field`,
        // bare `v` in single-step scans) — the lowering classifier below
        // picks the cheapest machine that covers the references used.
        if (lastOrder.isEmpty)
          throw new KqlParseException(
            "scan requires a preceding 'order by' (no stable natural order in a distributed engine)")
        if (partitionCols.isEmpty)
          warn("scan without a partition key lowers to ONE global partition " +
            "(Kusto's serialized-input semantics); wrap it as " +
            "`partition by Key ( scan ... )` to distribute per-key matching")
        // `with_match_id=Col`: numbers each match instance. The
        // multi-step repeated-match machine assigns real ids (a fresh id
        // per sequence started at step 1); the single-step running form
        // is ONE never-completing sequence, so its rows carry id 1.
        val matchIdCol =
          if (peekIs("with_match_id")) { expect("with_match_id"); expect("="); Some(ident()) }
          else None
        import org.apache.spark.sql.types._
        def scanType(t: String): DataType = t match {
          case "long" | "int" => LongType
          case "real" | "double" => DoubleType
          case "string" => StringType
          case "bool" | "boolean" => BooleanType
          case "datetime" => TimestampType
          case other => throw new KqlParseException(s"unsupported scan declare type '$other'")
        }
        val declares: List[(String, DataType, ColB)] =
          if (peekIs("declare")) {
            expect("declare"); expect("(")
            val ds = sepBy1(() => {
              val n = ident(); expect(":")
              val dt = scanType(ident())
              val dflt: ColB =
                if (peekIs("=")) { expect("="); val e = expr(); (d: DataFrame) => e(d).cast(dt) }
                else (_: DataFrame) => lit(null).cast(dt)
              (n, dt, dflt)
            })
            expect(")"); ds
          } else Nil
        expect("with"); expect("(")
        val steps = List.newBuilder[(String, String, ColB, List[(String, ColB)])]
        while (!peekIs(")")) {
          expect("step"); val sname = ident()
          // `output=all|last|none` — which of the step's consumed records
          // are emitted. all is the default; none suppresses the step's
          // rows; in the single-instance lowerings `last` coincides with
          // `all` for multi-step (each step consumes one record) and
          // keeps only the final consumed record in the running form.
          val outMode =
            if (peekIs("output")) {
              expect("output"); expect("=")
              val m = ident()
              if (!Set("all", "last", "none")(m))
                throw new KqlParseException(s"unsupported scan step output mode '$m'")
              m
            } else "all"
          expect(":")
          val cond = expr()
          val assigns =
            if (peekIs("=>")) {
              expect("=>")
              sepBy1(() => { val n = ident(); expect("="); (n, expr()) })
            } else Nil
          if (peekIs(";")) expect(";")
          steps += ((sname, outMode, cond, assigns))
        }
        expect(")")
        val ss = steps.result()
        if (ss.isEmpty) throw new KqlParseException("scan needs at least one step")
        // Declared vars are visible inside step predicates/assignments
        // as self-references (bare `v`), and every step's state is
        // addressable as `stepName.field` (Kusto's step-state syntax —
        // field = an input column captured from the record the step
        // last consumed, or a declared variable). Both compile against
        // marker columns so the lowering can CLASSIFY each use:
        //  - no state references at all → the fully-windowed lowerings
        //    (scanRunning / scanSequential — the distributed fast path);
        //  - the bare additive accumulator `v = v + e` on a single step
        //    → scanRunning's running-window sum (stays windowed);
        //  - anything else → the general stateful machine
        //    (Funnel.scanStateful: live-state evaluation, JIT-compiled
        //    once per partition).
        import org.apache.spark.sql.{GraftColumnBridge => ExpressionUtils}
        import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue}
        import org.apache.spark.sql.catalyst.expressions.{Add => CAdd, Alias => CAlias,
          Cast => CCast, Expression => CExpr, Literal => CLit}
        val markerPrefix = "__scan_self_"
        val markers = declares.map { case (n, _, _) => n -> col(markerPrefix + n) }
        def withBinds[A](bs: List[(String, Column)])(body: => A): A = bs match {
          case Nil => body
          case (n, c) :: rest => withBind(n, c)(withBinds(rest)(body))
        }
        def hasMarker(e: CExpr): Boolean =
          e.collectFirst { case UnresolvedAttribute(parts)
            if parts.headOption.exists(_.startsWith(markerPrefix)) => () }.isDefined
        def isMarkerOf(e: CExpr, v: String): Boolean = e match {
          case UnresolvedAttribute(parts) => parts == Seq(markerPrefix + v)
          case _ => false
        }
        // Column's + builds an unresolved "+" function node pre-analysis;
        // a resolved tree would carry catalyst Add — accept both shapes
        def addParts(e: CExpr): Option[(CExpr, CExpr)] = e match {
          case CAdd(l, r, _) => Some((l, r))
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts == Seq("+") && f.arguments.size == 2 =>
            Some((f.arguments(0), f.arguments(1)))
          case _ => None
        }
        // --- step-state markers: `s1.x` must compile as a NATIVE field
        // access (not a dynamic-JSON probe), so each step name binds to a
        // typed null-struct literal aliased "__scan_st_<step>" whose
        // struct type carries every input column and declared variable
        // at its real type — dynamicPath sees a struct and folds field
        // accesses into UnresolvedExtractValue nodes we rewrite below.
        val stepNames = ss.map(_._1)
        if (stepNames.distinct.size != stepNames.size)
          throw new KqlParseException("duplicate scan step name")
        declares.map(_._1).find(df.columns.contains).foreach(c =>
          throw new KqlParseException(
            s"scan declared column '$c' collides with an input column"))
        val stMarkerPrefix = "__scan_st_"
        val stateStruct = StructType(
          df.schema.fields ++ declares.map { case (nm, dt, _) => StructField(nm, dt) })
        def stepMarker(s: String): Column = ExpressionUtils.column(
          CAlias(CCast(CLit(null, NullType), stateStruct), stMarkerPrefix + s)())
        val stepBindsAll = stepNames.map(s => s -> stepMarker(s))
        def hasStepMarker(e: CExpr): Boolean =
          e.collectFirst { case a: CAlias if a.name.startsWith(stMarkerPrefix) => () }.isDefined
        val inputType: Map[String, DataType] =
          df.schema.fields.map(f => f.name -> f.dataType).toMap
        val declType: Map[String, DataType] = declares.map(d => d._1 -> d._2).toMap
        val stepIdxOf = stepNames.zipWithIndex.toMap
        val refsBuf = scala.collection.mutable.LinkedHashMap
          .empty[(Int, String), graft.ops.Funnel.StateRef]
        // rewrite step-state accesses (and, in single-step scans, bare
        // declared references ≡ step-1 state) to the state attributes
        // Funnel.scanStateful binds — collecting the referenced fields
        def rewriteState(c: Column): Column = {
          val singleStep = ss.lengthCompare(1) == 0
          val out = ExpressionUtils.catalystExpression(c).transformUp {
            case UnresolvedExtractValue(a: CAlias,
                CLit(f: org.apache.spark.unsafe.types.UTF8String, StringType))
                if a.name.startsWith(stMarkerPrefix) =>
              val step = stepIdxOf(a.name.stripPrefix(stMarkerPrefix))
              val fld = f.toString
              val (dt, isDecl) = declType.get(fld).map((_, true))
                .orElse(inputType.get(fld).map((_, false)))
                .getOrElse(throw new KqlParseException(
                  s"scan: step state has no field '$fld' " +
                  "(not an input column or declared variable)"))
              refsBuf.getOrElseUpdate((step, fld),
                graft.ops.Funnel.StateRef(step, fld, dt, isDecl))
              UnresolvedAttribute(Seq(s"__scan_state_${step}__$fld"))
            case u: UnresolvedAttribute if u.nameParts.length == 1 &&
                u.nameParts.head.startsWith(markerPrefix) =>
              val v = u.nameParts.head.stripPrefix(markerPrefix)
              if (!singleStep)
                throw new KqlParseException(
                  s"scan: bare state reference '$v' is ambiguous in a multi-step " +
                  s"scan — qualify it with a step name (${stepNames.head}.$v)")
              refsBuf.getOrElseUpdate((0, v),
                graft.ops.Funnel.StateRef(0, v, declType(v), isDeclared = true))
              UnresolvedAttribute(Seq(s"__scan_state_0__$v"))
          }
          out.collectFirst { case a: CAlias if a.name.startsWith(stMarkerPrefix) => a }
            .foreach(a => throw new KqlParseException(
              s"scan: step state '${a.name.stripPrefix(stMarkerPrefix)}' must be " +
              "read through a field (step.column or step.declaredVar)"))
          ExpressionUtils.column(out)
        }
        val orderCols = lastOrder.get.map(_(df))
        val declared = declares.map { case (n, _, b) => (n, b(df)) }
        // compile every step under the marker binds; a step may reference
        // its own and earlier steps' states (backward + self, the Kusto
        // rule — forward names simply aren't bound)
        val compiledSteps: List[(String, String, Column, List[(String, Column)])] =
          ss.zipWithIndex.map { case ((nm, om, condB, assignsB), k) =>
            val binds = markers ++ stepBindsAll.take(k + 1)
            val cond = withBinds(binds)(condB(df))
            val assigns = assignsB.map { case (an, ab) => (an, withBinds(binds)(ab(df))) }
            (nm, om, cond, assigns)
          }
        def isStateful(c: Column): Boolean = {
          val ex = ExpressionUtils.catalystExpression(c)
          hasMarker(ex) || hasStepMarker(ex)
        }
        // 'last' on the stateful single-step form: the sequence never
        // completes, so the final consumed record per group carries the
        // state out — same contract scanRunning implements natively
        def keepLastPerGroup(d: DataFrame): DataFrame = {
          import org.apache.spark.sql.expressions.Window
          // the scan output is a NEW frame (mapPartitions) — re-anchor the
          // order/partition columns by name (their df exprIds don't exist
          // here) and re-express a catalyst SortOrder through the Column
          // API so WindowSpec recognizes it instead of double-wrapping
          def rebind(c: Column): Column = {
            import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, NullsLast, SortOrder}
            val ex = ExpressionUtils.catalystExpression(c).transformUp {
              case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
                UnresolvedAttribute(Seq(a.name))
            }
            ex match {
              case so: SortOrder =>
                val ch = ExpressionUtils.column(so.child)
                if (so.direction == Ascending)
                  (if (so.nullOrdering == NullsLast) ch.asc_nulls_last else ch.asc_nulls_first)
                else
                  (if (so.nullOrdering == NullsFirst) ch.desc_nulls_first else ch.desc_nulls_last)
              case e => ExpressionUtils.column(e)
            }
          }
          val ord = orderCols.map(rebind)
          val parts = partitionCols.map(rebind)
          val wOrd = if (parts.isEmpty) Window.orderBy(ord: _*)
                     else Window.partitionBy(parts: _*).orderBy(ord: _*)
          val wFrame = if (parts.isEmpty) Window.partitionBy()
                       else Window.partitionBy(parts: _*)
          d.withColumn("__sf_last_rn", row_number().over(wOrd))
            .withColumn("__sf_last_n", count(lit(1)).over(wFrame))
            .where(col("__sf_last_rn") === col("__sf_last_n"))
            .drop("__sf_last_rn", "__sf_last_n")
        }
        def statefulLowering(): DataFrame = {
          val sfSteps = compiledSteps.map { case (nm, om, cond, assigns) =>
            graft.ops.Funnel.StatefulStep(nm, rewriteState(cond),
              assigns.map { case (an, ab) => (an, rewriteState(ab)) },
              emit = om != "none")
          }
          val base = graft.ops.Funnel.scanStateful(df, partitionCols, orderCols,
            declares.map { case (n, dt, b) => (n, dt, b(df)) },
            sfSteps, refsBuf.values.toSeq, matchIdCol)
          if (ss.lengthCompare(1) == 0 && ss.head._2 == "last") keepLastPerGroup(base)
          else base
        }
        // STREAMING source (round 19): the same machine description runs
        // through StreamOps.streamingScanStateful — flatMapGroupsWithState
        // keyed by the partition column(s), rows ordered by event time
        // within each micro-batch, per-key state watermark-evicted. The
        // batch fast paths (scanRunning window sums, scanSequential's
        // precomputed cells, the global-partition form) all need a
        // repartition+sort or window an unbounded stream can't provide,
        // so every streaming scan takes the general runner; the trades
        // (in-watermark parity, explicit lateness bound) are opt-in via
        // `set streaming_watermark`.
        def streamingLowering(): DataFrame = {
          if (ss.lengthCompare(1) == 0 && ss.head._2 == "last") throw new KqlParseException(
            "streaming scan cannot use output=last on a single-step scan " +
            "(the sequence never completes and the stream never ends)")
          val (keyNames, tsName, delay, horizonMs, tiebreaks) =
            streamingStatefulArgs(df, partitionCols, "scan", allowUnkeyed = true)
          val sfSteps = compiledSteps.map { case (nm, om, cond, assigns) =>
            graft.ops.Funnel.StatefulStep(nm, rewriteState(cond),
              assigns.map { case (an, ab) => (an, rewriteState(ab)) },
              emit = om != "none")
          }
          graft.streaming.StreamOps.streamingScanStateful(df, keyNames, tsName,
            delay, horizonMs,
            declares.map { case (n, dt, b) => (n, dt, b(df)) },
            sfSteps, refsBuf.values.toSeq, matchIdCol, tiebreaks)
        }
        val scanned = if (df.isStreaming) streamingLowering() else compiledSteps match {
          case (_, outMode, cond, assigns) :: Nil if !isStateful(cond) =>
            // single step: the fully-windowed running form when every
            // assignment is row-only or the bare additive accumulator;
            // any other state use falls to the general machine
            val declsOpt: Option[List[graft.ops.Funnel.RunningDecl]] =
              declared.foldRight(Option(List.empty[graft.ops.Funnel.RunningDecl])) {
                case ((v, dflt), acc) => acc.flatMap { tail =>
                  assigns.reverse.find(_._1 == v) match {
                    case None => Some(graft.ops.Funnel.NotAssigned(v, dflt) :: tail)
                    case Some((_, c)) =>
                      val ex = ExpressionUtils.catalystExpression(c)
                      if (hasStepMarker(ex)) None
                      else addParts(ex) match {
                        case Some((l, r)) if isMarkerOf(l, v) && !hasMarker(r) =>
                          Some(graft.ops.Funnel.AddAssign(v, dflt, ExpressionUtils.column(r)) :: tail)
                        case Some((l, r)) if isMarkerOf(r, v) && !hasMarker(l) =>
                          Some(graft.ops.Funnel.AddAssign(v, dflt, ExpressionUtils.column(l)) :: tail)
                        case _ if hasMarker(ex) => None
                        case _ => Some(graft.ops.Funnel.RowAssign(v, dflt, c) :: tail)
                      }
                  }
                }
              }
            declsOpt match {
              case Some(decls) =>
                val running = graft.ops.Funnel.scanRunning(
                  df, partitionCols, orderCols, cond, decls, outMode)
                // the single-step accumulator is ONE never-completing
                // sequence — every row honestly carries match id 1
                matchIdCol.fold(running) { m =>
                  if (running.columns.contains(m))
                    throw new KqlParseException(
                      s"with_match_id column '$m' collides with an existing column")
                  running.withColumn(m, lit(1L))
                }
              case None => statefulLowering()
            }
          case single :: Nil => statefulLowering() // stateful predicate
          case multi =>
            if (multi.exists { case (_, _, c, as) =>
                  isStateful(c) || as.exists(a => isStateful(a._2)) })
              statefulLowering()
            else
              // multi-step, no state references → the FULL repeated-match
              // state machine with fully-precomputed cells (promote >
              // extend > new; see graft.ops.Funnel.scanSequential)
              graft.ops.Funnel.scanSequential(df, partitionCols, orderCols,
                declares.map { case (n, dt, b) => (n, dt, b(df)) },
                multi.map { case (n, om, cond, assigns) =>
                  graft.ops.Funnel.SeqStep(n, cond, assigns, emit = om != "none")
                }, matchIdCol)
        }
        scanned
    }

    private def sepBy1[A](item: () => A): List[A] = {
      val out = List.newBuilder[A]
      out += item()
      while (peekIs(",")) { expect(","); out += item() }
      out.result()
    }

    /** `name = expr` or bare expr (aliased to its identifier when simple). */
    /** array_sort with a computed key (mv-apply sort/top): comparator
      * -1/0/1, nulls LAST regardless of direction. */
    private def sortByKey(arr: Column, key: Column => Column, asc: Boolean): Column =
      array_sort(arr, (l, r) => {
        val kl = key(l); val kr = key(r)
        val lt = if (asc) kl < kr else kl > kr
        val gt = if (asc) kl > kr else kl < kr
        when(kl.isNull && kr.isNull, lit(0))
          .when(kl.isNull, lit(1))
          .when(kr.isNull, lit(-1))
          .when(lt, lit(-1)).when(gt, lit(1)).otherwise(lit(0))
      })

    private def projItem(): ColB = {
      if (peek.exists(_.kind == "id") && toks.lift(pos + 1).exists(_.text == "=") &&
          toks.lift(pos + 1).exists(_.kind == "sym")) {
        val n = ident(); expect("=")
        val e = expr()
        df => e(df).as(n)
      } else if (peek.exists(t => t.kind == "sym" && t.text == "[") &&
                 toks.lift(pos + 1).exists(_.kind == "str") &&
                 toks.lift(pos + 2).exists(t => t.kind == "sym" && t.text == "]") &&
                 toks.lift(pos + 3).exists(t => t.kind == "sym" && t.text == "=")) {
        // `['col name'] = expr` — bracket-quoted output alias
        expect("["); val n = next().text; expect("]"); expect("=")
        val e = expr()
        df => e(df).as(n)
      } else expr()
    }

    /** Summarize item: `name = agg(...)` or bare `agg(...)` → `<fn>_`. */
    /** One summarize item, possibly multi-column: Kusto's
      * `percentiles(c, p1, p2, …)` yields one output column PER p —
      * either tuple-named `(n1, n2) = percentiles(c, p1, p2)` or
      * auto-named `percentile_c_p`. Each p lowers to the same exact
      * interpolated percentile the single-p form uses (one sort-based
      * agg per column; they share the shuffle). */
    private def aggItemMulti(): List[ColB] = {
      def pctList(): (String, List[Double]) = {
        expect("("); val cName = ident()
        val ps = List.newBuilder[Double]
        while (peekIs(",")) {
          expect(",")
          val t = next()
          if (t.kind != "num") throw new KqlParseException("percentiles() P values must be number literals")
          val p = t.text.toDouble
          if (p < 0 || p > 100) throw new KqlParseException(s"percentile P must be 0..100, got $p")
          ps += p
        }
        expect(")")
        val r = ps.result()
        if (r.isEmpty) throw new KqlParseException("percentiles() needs at least one P value")
        (cName, r)
      }
      // percentilesw(col, weight, p1, p2, …) — the weighted multi-p
      // form; same pinned exact weighted nearest-rank as percentilew()
      def pctwList(): (String, ColB, List[Double]) = {
        expect("("); val cName = ident()
        expect(","); val wExpr = expr()
        val ps = List.newBuilder[Double]
        while (peekIs(",")) {
          expect(",")
          val t = next()
          if (t.kind != "num") throw new KqlParseException("percentilesw() P values must be number literals")
          val p = t.text.toDouble
          if (p < 0 || p > 100) throw new KqlParseException(s"percentile P must be 0..100, got $p")
          ps += p
        }
        expect(")")
        val r = ps.result()
        if (r.isEmpty) throw new KqlParseException("percentilesw() needs at least one P value")
        (cName, wExpr, r)
      }
      if (peekIs("(")) {
        expect("(")
        val names = sepBy1(() => ident())
        expect(")"); expect("=")
        val fn = ident()
        if (fn != "percentiles" && fn != "percentilesw")
          throw new KqlParseException(s"tuple assignment in summarize supports percentiles()/percentilesw(), got '$fn'")
        if (fn == "percentilesw") {
          val (cName, wExpr, ps) = pctwList()
          if (ps.length != names.length)
            throw new KqlParseException(s"percentilesw tuple arity mismatch: ${names.length} names, ${ps.length} P values")
          names.zip(ps).map { case (n, p) =>
            (df: DataFrame) => weightedPercentile(col(cName), wExpr(df), p).as(n)
          }
        } else {
          val (cName, ps) = pctList()
          if (ps.length != names.length)
            throw new KqlParseException(s"percentiles tuple arity mismatch: ${names.length} names, ${ps.length} P values")
          names.zip(ps).map { case (n, p) =>
            (df: DataFrame) => percentile(col(cName), lit(p / 100.0)).as(n)
          }
        }
      } else if (peek.exists(t => t.kind == "id" && t.text == "percentiles") &&
                 toks.lift(pos + 1).exists(_.text == "(")) {
        expect("percentiles")
        val (cName, ps) = pctList()
        ps.map { p =>
          val suffix = if (p == math.floor(p)) p.toLong.toString else p.toString.replace('.', '_')
          (df: DataFrame) => percentile(col(cName), lit(p / 100.0)).as(s"percentile_${cName}_$suffix")
        }
      } else if (peek.exists(t => t.kind == "id" && t.text == "percentilesw") &&
                 toks.lift(pos + 1).exists(_.text == "(")) {
        expect("percentilesw")
        val (cName, wExpr, ps) = pctwList()
        ps.map { p =>
          val suffix = if (p == math.floor(p)) p.toLong.toString else p.toString.replace('.', '_')
          (df: DataFrame) => weightedPercentile(col(cName), wExpr(df), p)
            .as(s"percentilew_${cName}_$suffix")
        }
      } else if (peek.exists(t => t.kind == "id" && (t.text == "arg_max" || t.text == "arg_min")) &&
                 toks.lift(pos + 1).exists(t => t.kind == "sym" && t.text == "(")) {
        // UNALIASED arg_max/arg_min: Kusto returns a ROW's worth of
        // columns — the maximized expression plus every returned column
        // (or * = all columns). Lowered as ONE max_by/min_by of a struct
        // with a deterministic full-row ordering key; the summarize case
        // expands the marker struct into real columns (group keys and
        // duplicates dedupe at expansion). The aliased form
        // `x = arg_max(v, c)` keeps the single-column path.
        val fn = ident(); expect("(")
        def bareName(): Option[String] =
          peek.filter(_.kind == "id").map(_.text).filter(_ =>
            toks.lift(pos + 1).exists(t => t.kind == "sym" && (t.text == "," || t.text == ")")))
        val vName = bareName().getOrElse(s"${fn}_")
        val v = expr()
        var star = false
        val rets = List.newBuilder[(String, ColB)]
        while (peekIs(",")) {
          expect(",")
          if (peekIs("*")) { expect("*"); star = true }
          else {
            val rn = bareName().getOrElse(throw new KqlParseException(
              s"$fn returned arguments must be column references or *"))
            rets += ((rn, expr()))
          }
        }
        expect(")")
        val retsL = rets.result()
        if (!star && retsL.isEmpty)
          throw new KqlParseException(s"$fn needs at least one returned column or *")
        val marker = { argExpandCounter += 1; s"__arg_expand_$argExpandCounter" }
        List({ (df: DataFrame) =>
          val fields: Seq[(String, Column)] =
            if (star) (vName -> v(df)) +: df.columns.toSeq.filterNot(_ == vName).map(c => c -> df(c))
            else (vName -> v(df)) +: retsL.filterNot(_._1 == vName).map { case (n, e) => n -> e(df) }
          val payload = struct(fields.map { case (n, c) => c.as(n) }: _*)
          val ord = struct(v(df) +: fields.map(_._2): _*)
          (if (fn == "arg_max") max_by(payload, ord) else min_by(payload, ord)).as(marker)
        })
      } else List(aggItem())
    }

    private var argExpandCounter = 0

    private def aggItem(): ColB = {
      if (peek.exists(_.kind == "id") &&
          toks.lift(pos + 1).exists(t => t.text == "=" && t.kind == "sym")) {
        val n = ident(); expect("=")
        val e = expr()
        df => e(df).as(n)
      } else {
        // Kusto default agg names: `fn_col` when the one argument is a
        // bare column (sum_value, dcount_name), `percentile_col_P`, and
        // plain `fn_` otherwise (count_, countif_)
        val fnName = peek.map(_.text).getOrElse("agg")
        def t(i: Int) = toks.lift(pos + i)
        val isCall = t(1).exists(x => x.kind == "sym" && x.text == "(")
        val defName =
          if (isCall && t(2).exists(_.kind == "id") &&
              t(3).exists(x => x.kind == "sym" && x.text == ")"))
            s"${fnName}_${t(2).get.text}"
          else if (isCall && fnName == "percentile" && t(2).exists(_.kind == "id") &&
              t(3).exists(x => x.kind == "sym" && x.text == ",") && t(4).exists(_.kind == "num") &&
              t(5).exists(x => x.kind == "sym" && x.text == ")"))
            s"percentile_${t(2).get.text}_${t(4).get.text.replace('.', '_')}"
          else s"${fnName}_"
        val e = expr()
        df => e(df).as(defName)
      }
    }

    /** KQL order defaults to DESCENDING; `nulls first|last` overrides
      * the default placement (Kusto ≡ Spark defaults: asc puts nulls
      * first, desc puts them last). */
    private def orderItem(): ColB = {
      val e = expr()
      val asc =
        if (peekIs("asc")) { expect("asc"); true }
        else if (peekIs("desc")) { expect("desc"); false }
        else false
      val nullsFirst: Option[Boolean] =
        if (peekIs("nulls")) {
          expect("nulls")
          ident() match {
            case "first" => Some(true)
            case "last" => Some(false)
            case o => throw new KqlParseException(s"expected nulls first|last, got '$o'")
          }
        } else None
      (asc, nullsFirst) match {
        case (true, None) => df => e(df).asc
        case (false, None) => df => e(df).desc
        case (true, Some(true)) => df => e(df).asc_nulls_first
        case (true, Some(false)) => df => e(df).asc_nulls_last
        case (false, Some(true)) => df => e(df).desc_nulls_first
        case (false, Some(false)) => df => e(df).desc_nulls_last
      }
    }

    // ------------------------------------------------------ expressions

    def expr(): ColB = orExpr()

    private def orExpr(): ColB = {
      var l = andExpr()
      while (peekIs("or")) { expect("or"); val r = andExpr(); val ll = l; l = df => ll(df) || r(df) }
      l
    }
    private def andExpr(): ColB = {
      var l = notExpr()
      while (peekIs("and")) { expect("and"); val r = notExpr(); val ll = l; l = df => ll(df) && r(df) }
      l
    }
    private def notExpr(): ColB =
      if (peekIs("not")) { expect("not"); expect("("); val e = expr(); expect(")"); df => !e(df) }
      else comparison()

    private def comparison(): ColB = {
      // `* has 'x'` / `* contains 'x'` — the search-every-column
      // predicate (Kusto): OR of the string predicate over every column
      // (each cast to string, the search-operator stance)
      if (peekIs("*") && toks.lift(pos + 1).exists(t => t.kind == "id" &&
          Set("has", "has_cs", "contains", "contains_cs", "startswith", "endswith")(t.text))) {
        expect("*")
        val op = ident()
        val r = additive()
        return df => {
          val needle = r(df)
          def pred(c: Column): Column = op match {
            case "has" => regexp_like(c, concat(lit("(?i)\\b"),
              regexp_replace(needle, lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b")))
            case "has_cs" => regexp_like(c, concat(lit("\\b"),
              regexp_replace(needle, lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b")))
            case "contains" => lower(c).contains(lower(needle))
            case "contains_cs" => c.contains(needle)
            case "startswith" => lower(c).startsWith(lower(needle))
            case _ => lower(c).endsWith(lower(needle))
          }
          df.columns.map(cn => coalesce(pred(df(cn).cast("string")), lit(false))).reduce(_ || _)
        }
      }
      val l = additive()
      peek.filter(_.kind != "str").map(_.text) match {
        case Some("==") => expect("=="); val r = additive(); df => l(df) === r(df)
        case Some("!=") => expect("!="); val r = additive(); df => l(df) =!= r(df)
        // Kusto case-INSENSITIVE equality / inequality
        case Some("=~") => expect("=~"); val r = additive(); df => lower(l(df)) === lower(r(df))
        case Some("!~") => expect("!~"); val r = additive(); df => lower(l(df)) =!= lower(r(df))
        case Some("<")  => expect("<");  val r = additive(); df => l(df) < r(df)
        case Some(">")  => expect(">");  val r = additive(); df => l(df) > r(df)
        case Some("<=") => expect("<="); val r = additive(); df => l(df) <= r(df)
        case Some(">=") => expect(">="); val r = additive(); df => l(df) >= r(df)
        case Some("in") | Some("!in") =>
          // in / !in / in~ / !in~ — the `~` suffix is Kusto's
          // case-insensitive variant. A TABULAR operand (`in (T | …)`
          // or `in (letName)`) takes the subquery's FIRST column.
          // Lowering is two-tier (scale): a bounded probe fetches up
          // to `TabularInLiteralMax + 1` distinct values — at or below
          // the threshold the operand becomes a literal `isin`
          // (pushdown-friendly, tiny plan); above it NOTHING more is
          // collected — membership lowers to a catalyst `InSubquery`,
          // which Spark rewrites to a broadcast/shuffle left-semi or
          // existence join (composable in any boolean context). Kusto's
          // documented 1,000,000-value cap stays a loud compile-time
          // error, enforced with a capped `count` (no value fetch).
          val negated = next().text == "!in"
          val ci = peekIs("~")
          if (ci) expect("~")
          val isSub = peekIs("(") && toks.lift(pos + 1).exists(_.kind == "id") && (
            toks.lift(pos + 2).exists(t => t.kind == "sym" && t.text == "|") ||
            (toks.lift(pos + 2).exists(t => t.kind == "sym" && t.text == ")") &&
              lets.contains(toks(pos + 1).text)))
          if (isSub) {
            val sub = subquery()
            val firstCol = sub.col(sub.columns.head)
            // the EXEC-side operand frame memoizes per (operand, ci) so
            // every site of a shared let operand references the SAME
            // DataFrame instance — identical plans, so the physical
            // planner reuses one broadcast exchange across the sites'
            // existence/semi joins
            val rawDistinct = tabularInFrame.getOrElseUpdate((sub, false),
              sub.select(firstCol).distinct())
            // probe results memoize per operand FRAME: a let-bound
            // operand used by several in/!in sites (the q242 shape)
            // pays its distinct jobs once per compile, not per site;
            // the transient persist lets the over-threshold cap count
            // AND a later !in full fetch on the same operand ride the
            // probe's cache instead of re-running the distinct. The
            // cache is released once per compile in the entry points'
            // try/finally (releaseProbeCaches), never leaked — and
            // never dropped early between two sites of one operand.
            val vals = tabularInProbe.getOrElseUpdate(sub, {
              rawDistinct.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              probePersisted += rawDistinct
              rawDistinct.limit(KqlCompiler.TabularInLiteralMax + 1).collect().map(_.get(0))
            })
            if (vals.length <= KqlCompiler.TabularInLiteralMax) {
              // ci null contract (all three ci tiers agree): a NULL
              // operand value is dropped — String.valueOf(null) would
              // otherwise smuggle in the string "null" here while the
              // InSubquery tier keeps SQL NULL, flipping semantics with
              // operand cardinality. Null lhs stays three-valued NULL.
              df => {
                val base =
                  if (ci) lower(l(df)).isin(
                    vals.filter(_ != null).map(v => String.valueOf(v).toLowerCase): _*)
                  else l(df).isin(vals.toIndexedSeq: _*)
                if (negated) !base else base
              }
            } else if (!negated) {
              // positive membership rewrites to an EQUI existence/semi
              // join in every context — scale path, nothing collected
              val n = tabularStats(sub, rawDistinct)._1
              if (n > 1000000)
                throw new KqlParseException(
                  "in (subquery): more than 1,000,000 distinct values (the Kusto cap)")
              val subSide =
                if (ci) tabularInFrame.getOrElseUpdate((sub, true), {
                  // drop NULL operand values: the ci literal/InSet tiers
                  // filter them (see above), so the join tier must too
                  val lowered = lower(firstCol.cast("string"))
                  sub.select(lowered.as("__in_ci")).where(col("__in_ci").isNotNull).distinct()
                })
                else rawDistinct
              df => {
                val lhs = if (ci) lower(l(df)) else l(df)
                // an earlier extend on the same (lhs, operand) already
                // carries this boolean — reuse it instead of planting a
                // second existence join (the q242 where-after-extend
                // shape: `extend hit = k in (big) | where k in (big)`)
                membershipReuse(df, lhs, subSide).getOrElse(
                  org.apache.spark.sql.GraftColumnBridge.inSubquery(lhs, subSide))
              }
            } else {
              // NEGATED membership above the threshold: Not(InSubquery)
              // on a nullable key is NULL-AWARE — outside a top-level
              // WHERE conjunct Spark can only plan it as a
              // BroadcastNestedLoopJoin existence join (measured: a 15k
              // operand against 600k probe rows ground for minutes at
              // sf0.1). Lower to catalyst `InSet` instead: ONE plan node
              // holding the value set (no wide In literal, no janino
              // blowup), hash-set probe per row, identical null
              // semantics to the literal tier; the driver fetch is
              // bounded by Kusto's documented 1M-value contract.
              df => {
                val lhs = if (ci) lower(l(df)) else l(df)
                import org.apache.spark.sql.GraftColumnBridge
                // Common-subexpression rewrite (round 21, the q242
                // shape `extend hit = k in (big), miss = k !in (big)`):
                // when an in-scope column already holds the POSITIVE
                // membership for this (lhs, operand), the negation is
                // NOT that column — no InSet value fetch, no 1 MB plan
                // literal. Exactness: InSet's three-valued semantics
                // reduce to plain boolean negation iff the operand has
                // no NULL (proved by a memoized limit-1 probe over the
                // persisted distinct — rides the probe cache; the ci
                // tiers drop operand nulls by construction) and a null
                // lhs keeps yielding null via the isNotNull wrap. The
                // Kusto 1M cap stays enforced by the positive site the
                // reused column came from.
                // the frame a positive site on this operand would have
                // used (ci: only if one actually ran and built it)
                val posSide: DataFrame =
                  if (ci) tabularInFrame.get((sub, true)).orNull else rawDistinct
                val reuse =
                  if (posSide == null) None else membershipReuse(df, lhs, posSide)
                val operandNullFree = reuse.isDefined && (ci ||
                  !tabularStats(sub, rawDistinct)._2)
                if (reuse.isDefined && operandNullFree) {
                  val base = !reuse.get
                  if (df.select(lhs).schema.head.nullable)
                    when(lhs.isNotNull, base) else base
                } else {
                  val all = tabularInFullFetch.getOrElseUpdate(sub,
                    rawDistinct.limit(1000001).collect().map(_.get(0)))
                  if (all.length > 1000000)
                    throw new KqlParseException(
                      "in (subquery): more than 1,000,000 distinct values (the Kusto cap)")
                  import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst
                  val hset: Set[Any] =
                    if (ci) all.iterator.filter(_ != null).map(v =>
                      convertToCatalyst(String.valueOf(v).toLowerCase)).toSet
                    else all.iterator.map(convertToCatalyst).toSet
                  !GraftColumnBridge.column(
                    org.apache.spark.sql.catalyst.expressions.InSet(
                      GraftColumnBridge.catalystExpression(lhs), hset))
                }
              }
            }
          } else {
            expect("(")
            val items = sepBy1(() => expr()); expect(")")
            df => {
              val base =
                if (ci) lower(l(df)).isin(items.map(i => lower(i(df))): _*)
                else l(df).isin(items.map(_(df)): _*)
              if (negated) !base else base
            }
          }
        // Kusto string predicates are case-INSENSITIVE by default; the
        // `_cs` variants are the case-sensitive forms — exact KQL
        // semantics, not the Spark Column default
        case Some("startswith") =>
          expect("startswith"); val r = additive()
          df => lower(l(df)).startsWith(lower(r(df)))
        case Some("startswith_cs") =>
          expect("startswith_cs"); val r = additive(); df => l(df).startsWith(r(df))
        case Some("endswith") =>
          expect("endswith"); val r = additive()
          df => lower(l(df)).endsWith(lower(r(df)))
        case Some("endswith_cs") =>
          expect("endswith_cs"); val r = additive(); df => l(df).endsWith(r(df))
        case Some("contains") =>
          expect("contains"); val r = additive()
          df => lower(l(df)).contains(lower(r(df)))
        case Some("contains_cs") =>
          expect("contains_cs"); val r = additive(); df => l(df).contains(r(df))
        case Some("has") =>
          // KQL `has` is a whole-term match (not substring): word-boundary regex
          expect("has"); val r = additive()
          df => regexp_like(l(df), concat(lit("(?i)\\b"),
            regexp_replace(r(df), lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b")))
        case Some("has_any") =>
          // OR of whole-term matches over a literal list
          expect("has_any"); expect("(")
          val terms = sepBy1(() => additive()); expect(")")
          df => terms.map(t => regexp_like(l(df), concat(lit("(?i)\\b"),
              regexp_replace(t(df), lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b"))))
            .reduce(_ || _)
        case Some("has_all") =>
          // AND of whole-term matches over a literal list
          expect("has_all"); expect("(")
          val terms = sepBy1(() => additive()); expect(")")
          df => terms.map(t => regexp_like(l(df), concat(lit("(?i)\\b"),
              regexp_replace(t(df), lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b"))))
            .reduce(_ && _)
        case Some("between") =>
          // KQL `x between (lo .. hi)` — inclusive both ends
          expect("between"); expect("(")
          val lo = additive(); expect(".."); val hi = additive(); expect(")")
          df => l(df) >= lo(df) && l(df) <= hi(df)
        case Some("!between") =>
          expect("!between"); expect("(")
          val lo = additive(); expect(".."); val hi = additive(); expect(")")
          df => !(l(df) >= lo(df) && l(df) <= hi(df))
        case Some("matches") =>
          // `s matches regex 'pattern'` — RE2-compatible patterns only in
          // practice (the oracle runs them through DuckDB's RE2)
          expect("matches"); expect("regex"); val r = additive()
          df => regexp_like(l(df), r(df))
        case Some("has_cs") =>
          // case-SENSITIVE whole-term match (the `_cs` variant of has)
          expect("has_cs"); val r = additive()
          df => regexp_like(l(df), concat(lit("\\b"),
            regexp_replace(r(df), lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b")))
        case _ => l
      }
    }

    /** `+`/`-` with Kusto's datetime/timespan algebra. Timespans are
      * epoch-micros LONGS throughout the engine (the same representation
      * `bin` and the oracle's epoch_us use), so:
      *   datetime ± integral  → datetime shifted by that many micros,
      *   datetime − datetime  → timespan (micros long),
      *   anything else        → plain numeric +/-.
      * The dispatch needs resolved types, so it happens lazily per
      * operator input (compile-time analysis only — the returned Column
      * is still one codegen'd expression). */
    private def addSub(op: String, ll: ColB, r: ColB): ColB = df => {
      import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, TimestampType}
      def integral(t: DataType): Boolean =
        t == LongType || t == IntegerType || t == ShortType || t == ByteType
      val lc = ll(df); val rc = r(df)
      (dataTypeOf(df, lc), dataTypeOf(df, rc)) match {
        case (Some(TimestampType), Some(TimestampType)) if op == "-" =>
          unix_micros(lc) - unix_micros(rc)
        case (Some(TimestampType), Some(rt)) if integral(rt) =>
          timestamp_micros(unix_micros(lc) + (if (op == "+") rc else -rc))
        case (Some(lt), Some(TimestampType)) if integral(lt) && op == "+" =>
          timestamp_micros(unix_micros(rc) + lc)
        case (Some(org.apache.spark.sql.types.StringType),
              Some(org.apache.spark.sql.types.StringType)) if op == "+" =>
          concat(lc, rc) // Kusto allows string + string concatenation
        case _ => if (op == "+") lc + rc else lc - rc
      }
    }

    private def additive(): ColB = {
      var l = multiplicative()
      while (peekIs("+") || peekIs("-")) {
        val op = next().text; val r = multiplicative()
        l = addSub(op, l, r)
      }
      l
    }
    private def multiplicative(): ColB = {
      var l = unary()
      while (peekIs("*") || peekIs("/") || peekIs("%")) {
        val op = next().text; val r = unary(); val ll = l
        l = op match {
          case "*" => df => ll(df) * r(df)
          case "/" => df => ll(df) / r(df)
          case _   => df => ll(df) % r(df)
        }
      }
      l
    }
    private def unary(): ColB =
      if (peekIs("-")) { expect("-"); val e = unary(); df => -e(df) } else primary()

    private def primary(): ColB = {
      // timespan literal in expression position (`ts + 1h`, `dur < 30m`):
      // lowers to its micros value — see addSub for the algebra
      if (peekTimespan) {
        val us = timespanMicros()
        return _ => lit(us)
      }
      val t = next()
      val base: ColB = t.kind match {
        case "num" =>
          val v: Any = if (t.text.contains('.')) t.text.toDouble else t.text.toLong
          _ => lit(v)
        case "str" => _ => lit(t.text)
        case "id" if peekIs("(") => expect("("); functionCall(t.text)
        case "id" => t.text match {
          case "true"  => _ => lit(true)
          case "false" => _ => lit(false)
          case name    => df => elemBinds.getOrElse(name,
            scalarLets.get(name).map(lit(_)).getOrElse(df(name)))
        }
        case "sym" if t.text == "(" => val e = expr(); expect(")"); e
        case "sym" if t.text == "[" && peek.exists(_.kind == "str") =>
          // ['column name'] — Kusto's bracket-quoted identifier for
          // columns whose names aren't plain identifiers
          val k = next().text; expect("]")
          (df: DataFrame) => df(k)
        case _ => throw new KqlParseException(s"unexpected token '${t.text}'")
      }
      dynamicPath(base)
    }

    /** 'a.b.c.d[/p]' → 32-bit value as long, masked to the prefix: an
      * embedded '/p' wins, else `defaultPrefix` applies. Null when the
      * dotted quad is malformed (octet range enforced by regex). Mask =
      * v − (v mod 2^(32−p)) — 2^32 is exact in double, so the pow/pmod
      * form stays codegen'd with a column-valued prefix. */
    private def ipv4WithPrefix(c: Column, defaultPrefix: Column): Column = {
      val ipStr = substring_index(c, "/", 1)
      val p0 = coalesce(
        when(c.contains("/"), substring_index(c, "/", -1).cast("int")),
        defaultPrefix)
      val p = when(p0 >= 0 && p0 <= 32, p0) // malformed prefix → null
      val parts = split(ipStr, "\\.")
      val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
      val v = try_element_at(parts, lit(1)).cast("long") * 16777216L +
        try_element_at(parts, lit(2)).cast("long") * 65536L +
        try_element_at(parts, lit(3)).cast("long") * 256L +
        try_element_at(parts, lit(4)).cast("long")
      val block = pow(lit(2.0), (lit(32) - p).cast("double")).cast("long")
      when(ipStr.rlike(s"^$oct(\\.$oct){3}$$"), v - pmod(v, block))
    }

    /** ipv4_is_in_range / ipv4_is_in_any_range core: both sides masked
      * to the range's /p (32 when absent); null when either side is
      * malformed. */
    private def ipv4InRangeCol(ipRaw: Column, range: Column): Column = {
      val p = coalesce(
        when(range.contains("/"), substring_index(range, "/", -1).cast("int")),
        lit(32))
      val base = ipv4WithPrefix(range, p)
      val ip = ipv4WithPrefix(substring_index(ipRaw, "/", 1), p)
      when(ip.isNull || base.isNull, lit(null).cast("boolean"))
        .otherwise(ip === base)
    }

    /** ipv6_is_match / ipv6_is_in_range / ipv6_is_in_any_range core:
      * effective prefix = min(arg prefix, either side's /p suffix,
      * 128); compares the first p bits of the canonical nibble strings
      * — whole nibbles by substring, the partial nibble by an exact
      * power-of-two division. Null on malformed input or p ∉ [0,128]. */
    private def ipv6MatchCol(rawA: Column, rawB: Column, pArg: Column): Column = {
      def sfx(c: Column) =
        when(c.contains("/"), substring_index(c, "/", -1).cast("int")).otherwise(lit(128))
      val p = least(sfx(rawA), sfx(rawB), pArg)
      val ha = regexp_replace(ipv6Canonical(substring_index(rawA, "/", 1)), ":", "")
      val hb = regexp_replace(ipv6Canonical(substring_index(rawB, "/", 1)), ":", "")
      val full = (p / 4).cast("int")
      val rem = pmod(p, lit(4))
      def nib(h: Column) = coalesce(
        floor(conv(h.substr(full + 1, lit(1)), 16, 10).cast("double") /
          pow(lit(2.0), (lit(4) - rem).cast("double"))).cast("long"), lit(0L))
      when(ha.isNull || hb.isNull || p < 0 || p > 128, lit(null).cast("boolean"))
        .otherwise(ha.substr(lit(1), full) === hb.substr(lit(1), full) &&
          (rem === 0 || nib(ha) === nib(hb)))
    }

    /** Canonical IPv6 form: lowercase, '::' expanded, every group
      * zero-padded to 4 hex digits ('2001:0db8:…', 39 chars). Null on
      * malformed input. Grammar: hex groups + an optional embedded
      * dotted-IPv4 tail (round 15); zone indexes (`%eth0`) stay loudly
      * null — Kusto rejects them too. All codegen'd string/array ops,
      * no UDF. */
    /** IPv6 canonicalization — ONE native string walk (functions/
      * Ipv6Canon.scala holds the pinned subset spec, replicated verbatim
      * from the retired Column tree). The old form was a ~15-site
      * regex-heavy CaseWhen whose Catalyst analysis + janino compile
      * cost ~2.5 s of FIXED time per ipv6 query (q163/q226) at ANY
      * scale; the native expression compiles in microseconds and does
      * one pass per row instead of eight regexp_extracts. */
    private def ipv6Canonical(c: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.column(graft.functions.Ipv6Canonical(
        GraftColumnBridge.catalystExpression(c.cast("string"))))
    }

    /** Haversine distance in meters on the IUGG mean-radius sphere —
      * the pinned geo_distance_2points semantics (see ring-9 note). */
    /** Exact weighted nearest-rank percentile: sort (value, weight)
      * pairs, walk cumulative weight, return the first value reaching
      * P% of the total. One collect_list aggregate per group (Catalyst
      * dedups the two references into ONE physical agg buffer); the
      * fold is a scalar post-aggregation expression — the same
      * group-sized-array stance as make_list/make-series. Nulls in
      * either argument drop the pair (Kusto ignores nulls); struct
      * sort order (value, then weight) makes ties deterministic. */
    private def weightedPercentile(v: Column, w: Column, p: Double): Column = {
      val pair = when(v.isNotNull && w.isNotNull,
        struct(v.cast("double").as("v"), w.cast("double").as("w")))
      val pairs = sort_array(collect_list(pair))
      val tot = aggregate(pairs, lit(0.0), (s, x) => s + x.getField("w"))
      // let1-bind (pairs, threshold): the threshold subtree is ITSELF a
      // full fold over the pairs, and referencing it inside the walk's
      // lambda re-evaluates it PER ELEMENT — O(n²), 25 s on q172's
      // 9k-row groups (the series_decompose lesson). Binding through a
      // single-element transform evaluates it once per group.
      element_at(transform(
        array(struct(pairs.as("ps"), (tot * lit(p / 100.0)).as("thr"))),
        b => {
          val ps = b.getField("ps")
          val thr = b.getField("thr")
          aggregate(ps,
            struct(lit(0.0).as("cum"), lit(null).cast("double").as("ans")),
            (s, x) => {
              val cum2 = s.getField("cum") + x.getField("w")
              struct(cum2.as("cum"),
                when(s.getField("ans").isNotNull, s.getField("ans"))
                  .when(cum2 >= thr, x.getField("v")).as("ans"))
            },
            s => s.getField("ans"))
        }), 1)
    }


    private def haversineM(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
      val dlat = radians(lat2 - lat1) / 2
      val dlon = radians(lon2 - lon1) / 2
      val a = pow(sin(dlat), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dlon), 2)
      lit(2.0 * 6371009.0) * asin(sqrt(a))
    }


    private val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

    /** Standard geohash at compile-time `prec`: lon gets ceil(5p/2)
      * bits, lat floor(5p/2); bit t of the interleaved stream (MSB
      * first) is lon for even t. Each char is a 5-bit slice indexing
      * the base32 alphabet — one flat arithmetic expression. */
    private def geohashCol(lon: Column, lat: Column, prec: Int): Column = {
      val nBits = 5 * prec
      val nLon = (nBits + 1) / 2
      val nLat = nBits / 2
      def scaled(v: Column, lo: Double, span: Double, n: Int): Column =
        least(floor((v - lo) / span * math.pow(2, n)).cast("long"),
          lit((1L << n) - 1))
      val lonI = scaled(lon, -180.0, 360.0, nLon)
      val latI = scaled(lat, -90.0, 180.0, nLat)
      def streamBit(t: Int): Column =
        if (t % 2 == 0) shiftright(lonI, nLon - 1 - t / 2).bitwiseAND(lit(1L))
        else shiftright(latI, nLat - 1 - (t - 1) / 2).bitwiseAND(lit(1L))
      val alph = array(GeohashAlphabet.map(ch => lit(ch.toString)): _*)
      val chars = (0 until prec).map { k =>
        val v = (0 until 5).map(i => streamBit(5 * k + i) * lit(1L << (4 - i)))
          .reduce(_ + _)
        element_at(alph, (v + 1).cast("int"))
      }
      concat(chars: _*)
    }

    /** Postfix Kusto `dynamic` access: `expr.k1.k2` lowers to
      * `get_json_object(expr, "$.k1.k2")` — a single codegen'd JSON-path
      * probe, identical to the DataFrame shape q09 pins. The engine's
      * `dynamic` representation is the JSON text itself (so `parse_json`
      * is the identity and access composes with tolong/toint/todouble
      * casts, matching Kusto's dynamic→scalar conversion functions). */
    private def dynamicPath(base: ColB): ColB =
      if (!peekIs(".") && !peekIs("[")) base
      else {
        val steps = List.newBuilder[Either[String, Long]] // Left key / Right index
        while (peekIs(".") || peekIs("[")) {
          if (peekIs(".")) { expect("."); steps += Left(ident()) }
          else { // `[0]` array index (negative = from the end), or
                 // `['key with spaces']` bag key
            expect("[")
            if (peek.exists(_.kind == "str")) { steps += Left(next().text); expect("]") }
            else {
              val neg = peekIs("-"); if (neg) expect("-")
              val i = number(); expect("]")
              steps += Right(if (neg) -i else i)
            }
          }
        }
        val ss = steps.result()
        df => {
          val b = base(df)
          import org.apache.spark.sql.types.{ArrayType, StructType}
          // NATIVE array/struct columns index natively (Kusto arr[0] over
          // a series is a plain element access — null out of range);
          // dynamic (JSON-text) columns keep the single get_json_object
          // probe q09 pins.
          val native = dataTypeOf(df, b).exists {
            case _: ArrayType | _: StructType => true
            case _ => false
          }
          if (native)
            ss.foldLeft(b) {
              case (c, Right(i)) if i >= 0 =>
                when(size(c) > lit(i), element_at(c, lit(i + 1).cast("int")))
              case (c, Right(i)) => // negative: from the end, size-guarded
                when(size(c) >= lit(-i), element_at(c, lit(i).cast("int")))
              case (c, Left(k)) => c.getField(k)
            }
          else {
            val p = ss.map {
              case Left(k) if k.matches("[A-Za-z0-9_]+") => "." + k
              case Left(k) => s"['$k']"
              case Right(i) if i >= 0 => s"[$i]"
              case Right(i) => throw new KqlParseException(
                s"negative index [$i] is supported on native arrays only, not dynamic JSON text")
            }.mkString("$", "", "")
            get_json_object(b, p)
          }
        }
      }

    // ------------------------------------------------- datetime surface

    /** Timespan literal `[-|+]<num><unit>` (1h, 30m, 1.5d, 100ms, -1h…)
      * → micros. The lexer splits "1h" into num(1) id(h), so this reads
      * both; a leading sign is consumed here so `ago(-1h)` (valid Kusto:
      * 1h in the future) parses. */
    private def timespanMicros(): Long = {
      val sign =
        if (peekIs("-")) { expect("-"); -1L }
        else { if (peekIs("+")) expect("+"); 1L }
      val v = next()
      if (v.kind != "num") throw new KqlParseException(s"expected timespan, got '${v.text}'")
      val unit = ident() match {
        case "d" => 86400000000L
        case "h" => 3600000000L
        case "m" => 60000000L
        case "s" => 1000000L
        case "ms" => 1000L
        case other => throw new KqlParseException(s"unsupported timespan unit '$other'")
      }
      sign * math.round(v.text.toDouble * unit)
    }

    /** True when the upcoming tokens are a timespan literal (`num` then a
      * unit identifier) — distinguishes `bin(ts, 1h)` from `bin(v, 10)`. */
    private def peekTimespan: Boolean =
      peek.exists(_.kind == "num") && toks.lift(pos + 1).exists(t =>
        t.kind == "id" && Set("d", "h", "m", "s", "ms")(t.text))

    /** Resolved Spark type of a column expression against `df` — drives
      * the type-adaptive lowerings below. Pure analysis (one resolve of a
      * single-column plan at COMPILE time); nothing executes. None when
      * the expression cannot resolve standalone — e.g. it contains an
      * mv-apply lambda variable, which only resolves inside its HOF — in
      * which case callers fall back to the plain numeric lowering. */
    private def dataTypeOf(df: DataFrame, c: Column): Option[org.apache.spark.sql.types.DataType] =
      try Some(df.select(c).schema.head.dataType)
      catch { case scala.util.control.NonFatal(_) => None }

    /** `datetime(...)` literal in plugin-argument position (the activity
      * plugins' Start/End args): consumes the `datetime` keyword and the
      * parenthesized literal, returns the Instant. */
    private def pluginDatetime(): java.time.Instant = {
      val kw = ident()
      if (kw != "datetime")
        throw new KqlParseException(s"expected a datetime(...) literal, got '$kw'")
      expect("(")
      datetimeLiteral()
    }

    /** datetime(...) literal: either one quoted string or the raw ISO
      * token run up to ')' (the lexer splits `2024-01-15T10:00:00Z` into
      * many tokens; their texts concatenate back losslessly). Space-
      * separated date-times need the quoted form. Naive literals are UTC
      * (the engine pins spark.sql.session.timeZone=UTC). */
    private def datetimeLiteral(): java.time.Instant = {
      val raw =
        if (peek.exists(_.kind == "str") && toks.lift(pos + 1).exists(_.text == ")"))
          next().text
        else {
          val sb = new StringBuilder
          while (!peekIs(")")) {
            if (peek.isEmpty)
              throw new KqlParseException("unterminated datetime( literal — missing ')'")
            sb ++= next().text
          }
          sb.toString
        }
      expect(")")
      // the lexer drops whitespace, so the Kusto space form
      // `datetime(2024-01-01 11:00:00)` arrives glued — re-split it
      parseInstant(raw.replaceFirst("^(\\d{4}-\\d{2}-\\d{2})(\\d{1,2}:)", "$1T$2"))
    }

    /** Window over the serialized order for row_number/prev/next. */
    private def serializedWindow(df: DataFrame): org.apache.spark.sql.expressions.WindowSpec = {
      val items = lastOrder.getOrElse(throw new KqlParseException(
        "row_number/prev/next need a serialized order — add 'order by …' before serialize"))
      warn("serialized window function lowers to ONE global partition; " +
        "prefer a keyed window (`partition by Key ( ... )`) at scale")
      org.apache.spark.sql.expressions.Window.orderBy(items.map(_(df)): _*)
    }

    /** A constant instant: `datetime(...)`, `now()`, or `ago(ts)` — the
      * only forms make-series axis bounds accept (the axis must be a
      * parse-time literal). */
    private def constantInstant(): java.time.Instant = {
      val t = next()
      if (t.kind != "id" || !peekIs("("))
        throw new KqlParseException("expected datetime()/now()/ago() constant")
      expect("(")
      t.text match {
        case "datetime" => datetimeLiteral()
        case "now" => expect(")"); now
        case "ago" => val us = timespanMicros(); expect(")"); now.minusNanos(us * 1000L)
        case other => throw new KqlParseException(s"expected a datetime constant, got '$other()'")
      }
    }

    private def parseInstant(s: String): java.time.Instant = {
      val t = s.trim
      val utc = java.time.ZoneOffset.UTC
      try java.time.Instant.parse(t) catch { case _: Exception =>
      try java.time.LocalDateTime.parse(t.replace(' ', 'T')).toInstant(utc) catch { case _: Exception =>
      try java.time.LocalDate.parse(t).atStartOfDay.toInstant(utc) catch { case _: Exception =>
        throw new KqlParseException(s"unparseable datetime literal '$s'") }}}
    }

    /** Timestamp bin: floor `c` to a `binMicros` grid — exact long
      * arithmetic on epoch micros (pmod, not double floor: 2^53 loses
      * microsecond precision on modern epochs), epoch-aligned like
      * Kusto's bin. Stays inside whole-stage codegen. */
    private def timestampBin(c: Column, binMicros: Long): Column = {
      val us = unix_micros(c)
      timestamp_micros(us - pmod(us, lit(binMicros)))
    }

    /** Called with '(' consumed; consumes through the closing ')'.
      * `pack` and `round` parse literal sub-arguments at parse time (the
      * Spark 4 Column API is opaque — no expression introspection). */
    private def functionCall(name: String): ColB = {
      // Kusto typed nulls: real(null), long(null), … — a NULL literal
      // carrying the named type (the only way to write one in KQL)
      if (peek.exists(t => t.kind == "id" && t.text == "null") &&
          toks.lift(pos + 1).exists(t => t.text == ")" && t.kind == "sym")) {
        val dt: Option[org.apache.spark.sql.types.DataType] = name match {
          case "real" | "double" => Some(org.apache.spark.sql.types.DoubleType)
          case "long" | "timespan" => Some(org.apache.spark.sql.types.LongType)
          case "int" => Some(org.apache.spark.sql.types.IntegerType)
          case "bool" | "boolean" => Some(org.apache.spark.sql.types.BooleanType)
          case "datetime" => Some(org.apache.spark.sql.types.TimestampType)
          case "decimal" => Some(org.apache.spark.sql.types.DecimalType(38, 18))
          case "string" | "guid" => Some(org.apache.spark.sql.types.StringType)
          case _ => None
        }
        dt.foreach { t => expect("null"); expect(")"); return _ => lit(null).cast(t) }
      }
      if (name == "datetime") {
        val inst = datetimeLiteral()
        return _ => lit(inst)
      }
      if (name == "dynamic") {
        // dynamic literal (array/scalar forms; `dynamic` IS JSON text in
        // this engine, so the literal is the reconstructed JSON). String
        // elements re-quote; composes with postfix .path/[index] access.
        val sb = new StringBuilder
        var depth = 1
        var going = true
        while (going) {
          val t = next()
          t.text match {
            case "(" if t.kind == "sym" => depth += 1; sb ++= "("
            case ")" if t.kind == "sym" =>
              depth -= 1; if (depth == 0) going = false else sb ++= ")"
            case _ =>
              if (t.kind == "str")
                sb ++= "\"" + t.text.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
              else sb ++= t.text
          }
        }
        val json = sb.toString
        return _ => lit(json)
      }
      if (name == "now") {
        expect(")")
        return _ => lit(now)
      }
      if (name == "ago") {
        val us = timespanMicros()
        expect(")")
        val inst = now.minusNanos(us * 1000L)
        return _ => lit(inst)
      }
      if (name == "bin" || name == "floor") {
        val e = expr(); expect(",")
        if (peekTimespan) {
          val us = timespanMicros(); expect(")")
          // timespan width: epoch-grid bin for datetimes, micros grid for
          // timespan-valued (long) operands like `bin(now() - ts, 1h)`
          return df => {
            val c = e(df)
            if (dataTypeOf(df, c).contains(org.apache.spark.sql.types.TimestampType)) timestampBin(c, us)
            else floor(c / lit(us)).cast("long") * lit(us)
          }
        }
        val w = expr(); expect(")")
        return df => floor(e(df) / w(df)) * w(df)
      }
      if (name == "bin_at") {
        // bin_at(x, width, fixedPoint): bins aligned to fixedPoint instead
        // of the epoch. Datetime form uses exact long micros with pmod
        // (floor semantics for values before the fixed point); numeric
        // form is fp + floor((x - fp) / w) * w.
        val e = expr(); expect(",")
        if (peekTimespan) {
          val w = timespanMicros(); expect(",")
          val fpB = expr(); expect(")")
          return df => {
            val fp = unix_micros(fpB(df))
            val delta = unix_micros(e(df)) - fp
            timestamp_micros(fp + (delta - pmod(delta, lit(w))))
          }
        }
        val w = expr(); expect(",")
        val fp = expr(); expect(")")
        return df => fp(df) + floor((e(df) - fp(df)) / w(df)) * w(df)
      }
      if (name == "bin_auto") {
        // bin_auto(x) = bin_at(x, query_bin_auto_size, query_bin_auto_at)
        // — the dashboard-axis form whose width/alignment ride `set`
        // request properties instead of arguments.
        val e = expr(); expect(")")
        val size = binAutoSize.getOrElse(throw new KqlParseException(
          "bin_auto() requires a preceding `set query_bin_auto_size = ...;`"))
        size match {
          case Left(w) => return df => {
            val fp = binAutoAt.map(b => unix_micros(b(df))).getOrElse(lit(0L))
            val delta = unix_micros(e(df)) - fp
            timestamp_micros(fp + (delta - pmod(delta, lit(w))))
          }
          case Right(wb) => return df => {
            val w = wb(df)
            val fp = binAutoAt.map(_(df)).getOrElse(lit(0))
            fp + floor((e(df) - fp) / w) * w
          }
        }
      }
      if (name == "column_ifexists") {
        // column_ifexists('name', default) — schema-probe reference: the
        // named column when the frame has it, else the default. Resolved
        // per-frame at plan time (no runtime cost), the Kusto contract.
        val t = next()
        if (t.kind != "id" && t.kind != "str")
          throw new KqlParseException("column_ifexists() expects a column name")
        expect(",")
        val dflt = expr(); expect(")")
        return df => if (df.columns.contains(t.text)) col(t.text) else dflt(df)
      }
      if (name == "around") {
        // around(value, center, delta) → bool; datetime form takes a
        // timespan delta (exact micros arithmetic)
        val v = expr(); expect(",")
        val c = expr(); expect(",")
        if (peekTimespan) {
          val d = timespanMicros(); expect(")")
          return df => abs(unix_micros(v(df)) - unix_micros(c(df))) <= lit(d)
        }
        val d = expr(); expect(")")
        return df => abs(v(df) - c(df)) <= d(df)
      }
      if (name == "parse_user_agent") {
        // parse_user_agent(ua, 'browser' | 'os' | 'device' |
        // dynamic(['browser', …])) → dynamic bag with Browser /
        // OperatingSystem / DeviceType sections. Pinned regex family
        // subset (documented; the oracle asserts the parsed fields):
        // Browser: Edge → Opera → Chrome → Firefox → Safari
        // (Version/…Safari) → IE → Other, first match wins (Edge/Opera
        // UAs also contain Chrome/; Chrome UAs also contain Safari/ —
        // the order IS the disambiguation, as in ua-parser). OS:
        // Windows NT → Mac OS X → iOS → Android → Linux → Other
        // (Android before Linux: Android UAs contain Linux). Device:
        // Bot → Tablet → Phone → Other. Pure codegen'd rlike/
        // regexp_extract — map-only, no UDF.
        val ua = expr(); expect(",")
        val sections: Seq[String] =
          if (peekIs("dynamic")) {
            expect("dynamic"); expect("("); expect("[")
            val ss = sepBy1(() => {
              val t = next()
              if (t.kind != "str") throw new KqlParseException("parse_user_agent sections must be string literals")
              t.text
            })
            expect("]"); expect(")"); ss
          } else {
            val t = next()
            if (t.kind != "str") throw new KqlParseException("parse_user_agent sections must be string literals")
            Seq(t.text)
          }
        expect(")")
        return df => {
          val u = ua(df)
          def verStruct(fam: Column, ver: Column) = {
            val parts = split(ver, "\\.")
            struct(fam.as("Family"),
              coalesce(try_element_at(parts, lit(1)), lit("")).as("MajorVersion"),
              coalesce(try_element_at(parts, lit(2)), lit("")).as("MinorVersion"))
          }
          def browser = {
            val fam = when(u.rlike("Edg(e|A|iOS)?/"), lit("Edge"))
              .when(u.rlike("OPR/"), lit("Opera"))
              .when(u.rlike("Chrome/"), lit("Chrome"))
              .when(u.rlike("Firefox/"), lit("Firefox"))
              .when(u.rlike("Version/[0-9.]+.*Safari/"), lit("Safari"))
              .when(u.rlike("MSIE |Trident/"), lit("Internet Explorer"))
              .otherwise(lit("Other"))
            val ver = when(fam === "Edge", regexp_extract(u, "Edg(?:e|A|iOS)?/([0-9.]+)", 1))
              .when(fam === "Opera", regexp_extract(u, "OPR/([0-9.]+)", 1))
              .when(fam === "Chrome", regexp_extract(u, "Chrome/([0-9.]+)", 1))
              .when(fam === "Firefox", regexp_extract(u, "Firefox/([0-9.]+)", 1))
              .when(fam === "Safari", regexp_extract(u, "Version/([0-9.]+)", 1))
              .when(fam === "Internet Explorer", regexp_extract(u, "(?:MSIE |rv:)([0-9.]+)", 1))
              .otherwise(lit(""))
            verStruct(fam, ver)
          }
          def os = {
            val fam = when(u.rlike("Windows NT"), lit("Windows"))
              .when(u.rlike("Mac OS X"), lit("Mac OS X"))
              .when(u.rlike("iPhone OS|iPad"), lit("iOS"))
              .when(u.rlike("Android"), lit("Android"))
              .when(u.rlike("Linux"), lit("Linux"))
              .otherwise(lit("Other"))
            val ver = when(fam === "Windows", regexp_extract(u, "Windows NT ([0-9.]+)", 1))
              .when(fam === "Mac OS X", translate(regexp_extract(u, "Mac OS X ([0-9_.]+)", 1), "_", "."))
              .when(fam === "iOS", translate(regexp_extract(u, "OS ([0-9_]+)", 1), "_", "."))
              .when(fam === "Android", regexp_extract(u, "Android ([0-9.]+)", 1))
              .otherwise(lit(""))
            struct(fam.as("Family"), ver.as("MajorVersion"))
          }
          def device = {
            val fam = when(u.rlike("(?i)bot|crawler|spider"), lit("Bot"))
              .when(u.rlike("iPad|Tablet"), lit("Tablet"))
              .when(u.rlike("Mobile|iPhone|Android"), lit("Phone"))
              .otherwise(lit("Other"))
            struct(fam.as("Family"))
          }
          val fields = sections.map {
            case "browser" => browser.as("Browser")
            case "os" => os.as("OperatingSystem")
            case "device" => device.as("DeviceType")
            case other => throw new KqlParseException(
              s"parse_user_agent section '$other' (supported: browser, os, device)")
          }
          to_json(struct(fields: _*))
        }
      }
      if (name == "extract") {
        // Kusto extract(regex, captureGroup, source [, typeof(T)]) —
        // regex is a literal (parse-time, like split's delimiter);
        // group 0 = whole match; the typeof form converts with the toX
        // null-on-unparseable contract (empty no-match included)
        val r = next()
        if (r.kind != "str") throw new KqlParseException("extract() regex must be a string literal")
        expect(",")
        val group = number(); expect(",")
        val src = expr()
        val tpe =
          if (peekIs(",")) {
            expect(","); expect("typeof"); expect("(")
            val t = ident(); expect(")")
            Some(t match {
              case "long" | "int" => "long"
              case "real" | "double" => "double"
              case "datetime" => "timestamp"
              case "bool" | "boolean" => "boolean"
              case "string" => "string"
              case other => throw new KqlParseException(s"unsupported extract typeof '$other'")
            })
          } else None
        expect(")")
        return df => {
          val raw = regexp_extract(src(df), r.text, group)
          tpe match {
            case None | Some("string") => raw
            case Some(t) => when(raw =!= "", raw.try_cast(t))
          }
        }
      }
      if (name == "extract_groups") {
        // extract_groups(regex, source): ALL capture groups of the
        // first match as a dynamic string array; null when no match.
        // Regex is a parse-time literal (the extract/countof stance),
        // so the group count unrolls to one regexp_extract per group —
        // Catalyst dedups the shared pattern probe.
        val r = next()
        if (r.kind != "str") throw new KqlParseException("extract_groups() regex must be a string literal")
        expect(",")
        val src = expr(); expect(")")
        val nGroups = java.util.regex.Pattern.compile(r.text).matcher("").groupCount()
        if (nGroups < 1)
          throw new KqlParseException("extract_groups() regex must declare at least one capture group")
        return df => {
          val s = src(df)
          when(regexp_like(s, lit(r.text)),
            array((1 to nGroups).map(g => regexp_extract(s, r.text, g)): _*))
        }
      }
      if (name == "extract_all") {
        // extract_all(regex, source): array of every match — of capture
        // group 1 when the regex declares groups, of the whole match
        // otherwise (Kusto's single-group behavior)
        val r = next()
        if (r.kind != "str") throw new KqlParseException("extract_all() regex must be a string literal")
        expect(",")
        val src = expr(); expect(")")
        val group = if (java.util.regex.Pattern.compile(r.text).matcher("").groupCount() > 0) 1 else 0
        return df => regexp_extract_all(src(df), lit(r.text), lit(group))
      }
      if (name == "pack" || name == "bag_pack" || name == "pack_dictionary") { // bag_pack = Kusto's current name for pack; pack_dictionary = legacy alias
        val pairs = sepBy1(() => {
          val k = next()
          if (k.kind != "str") throw new KqlParseException("pack() keys must be string literals")
          expect(",")
          (k.text, expr())
        })
        expect(")")
        return df => Kql.pack(pairs.map { case (k, v) => v(df).as(k) }: _*)
      }
      if (name == "bag_pack_columns") {
        // bag_pack_columns(c1, c2, …): column NAMES become the keys
        val cols0 = sepBy1(() => ident())
        expect(")")
        return df => Kql.pack(cols0.map(n => df(n).as(n)): _*)
      }
      if (name == "prev" || name == "next") {
        // prev(col[, offset[, default]]) / next(…) over the serialized
        // order — offset is a parse-time literal (lag/lead need Int);
        // the optional third argument fills past-the-edge rows (Kusto's
        // documented form)
        val e = expr()
        val off = if (peekIs(",")) { expect(","); number() } else 1
        val dflt = if (peekIs(",")) { expect(","); Some(expr()) } else None
        expect(")")
        val fn = name
        return df => {
          val w = serializedWindow(df)
          // lag/lead's own default fills ONLY past-the-edge rows (a
          // genuine null value stays null — the Kusto contract; a
          // coalesce would overwrite those too)
          (dflt, fn) match {
            case (None, "prev") => lag(e(df), off).over(w)
            case (None, _) => lead(e(df), off).over(w)
            case (Some(d), "prev") => lag(e(df), off, d(df)).over(w)
            case (Some(d), _) => lead(e(df), off, d(df)).over(w)
          }
        }
      }
      if (name == "format_datetime") {
        // format_datetime(ts, 'pattern') — the Kusto pattern subset that
        // overlaps Java's (yyyy MM dd HH mm ss) passes through; 'y'/'M'/
        // 'd'/'H'/'m'/'s' singles and 'ff' fractions are normalized.
        val e = expr(); expect(",")
        val p = next()
        if (p.kind != "str") throw new KqlParseException("format_datetime() pattern must be a string literal")
        expect(")")
        val javaPat = "f+".r.replaceAllIn(
          p.text.replace("tt", "a"), // tt = AM/PM designator
          m => "S" * m.matched.length) // fff fractions -> SSS
        return df => date_format(e(df), javaPat)
      }
      if (name == "format_timespan") {
        // format_timespan(ts, 'pattern') — timespans are epoch-micros
        // longs engine-wide. Pattern subset: d/dd (total days), h/hh,
        // m/mm, s/ss, f-runs (sub-second digits), with '.' ':' '-' ' '
        // literal separators — the dashboard-facing shapes
        // ('d.hh:mm:ss', 'hh:mm:ss.fff'). Pattern is a parse-time
        // literal, so the whole thing compiles to one codegen'd concat
        // of padded integer divisions; negative spans format their
        // absolute value with a leading '-', as Kusto renders them.
        val e = expr(); expect(",")
        val p = next()
        if (p.kind != "str") throw new KqlParseException("format_timespan() pattern must be a string literal")
        expect(")")
        val pat = p.text
        return df => {
          val raw = e(df).cast("long")
          val v = abs(raw)
          val pieces = List.newBuilder[Column]
          var i = 0
          while (i < pat.length) {
            val c = pat(i)
            var j = i
            while (j < pat.length && pat(j) == c) j += 1
            val n = j - i
            // Column./ is DOUBLE division — floor+cast back to long for
            // exact integer component math
            def idiv(den: Long): Column = floor(v / den).cast("long")
            c match {
              case 'd' => pieces += lpad(idiv(86400000000L).cast("string"), n, "0")
              case 'h' | 'H' => pieces += lpad((idiv(3600000000L) % 24).cast("string"), n, "0")
              case 'm' => pieces += lpad((idiv(60000000L) % 60).cast("string"), n, "0")
              case 's' => pieces += lpad((idiv(1000000L) % 60).cast("string"), n, "0")
              case 'f' => // n sub-second digits out of 6 (micros)
                val digits = math.min(n, 6)
                pieces += substring(lpad((v % 1000000L).cast("string"), 6, "0"), 1, digits)
              case '.' | ':' | '-' | ' ' | '[' | ']' => pieces += lit(c.toString * n)
              case other => throw new KqlParseException(s"format_timespan: unsupported pattern char '$other'")
            }
            i = j
          }
          concat((when(raw < 0, lit("-")).otherwise(lit("")) :: pieces.result()): _*)
        }
      }
      if (name == "format_bytes") {
        // format_bytes(size[, precision]) — largest 1024-base unit with
        // value ≥ 1, rounded HALF_UP to `precision` decimals (a parse-
        // time literal). Digits are produced by INTEGER math (scale,
        // round, split) so the string never goes through double
        // formatting — engine and oracle agree digit-for-digit.
        val e = expr()
        val p = if (peekIs(",")) { expect(","); number() } else 0
        expect(")")
        if (p < 0 || p > 6) throw new KqlParseException(s"format_bytes precision must be 0..6, got $p")
        return df => {
          val v = e(df).cast("double")
          val units = Seq("bytes", "KB", "MB", "GB", "TB", "PB", "EB")
          val pow10 = math.pow(10, p).toLong
          def fmt(scaled: Column, unit: String): Column = {
            val n = round(scaled * pow10, 0).cast("long")
            val digits =
              if (p == 0) n.cast("string")
              else concat(floor(n / pow10).cast("long").cast("string"), lit("."),
                lpad(pmod(n, lit(pow10)).cast("string"), p, "0"))
            concat(digits, lit(" " + unit))
          }
          // fold ASCENDING so the largest unit's test ends up outermost
          (1 to 6).foldLeft(fmt(v, units.head)) { (acc, k) =>
            val base = math.pow(1024.0, k)
            when(v >= base, fmt(v / base, units(k))).otherwise(acc)
          }
        }
      }
      if (name == "geo_point_to_geohash") {
        // geo_point_to_geohash(lon, lat, precision) — standard geohash:
        // precision is a parse-time literal, so the bit interleave
        // unrolls into ONE flat codegen'd arithmetic expression: the
        // lon/lat bit streams are just the binary expansions of the
        // floor-scaled fractions (no iterative subdivision needed), each
        // output char indexes the base32 alphabet. Identical IEEE
        // mul/div + integer ops on both engines → bit-stable (validated
        // against the canonical (-5.6, 42.6, 5) = 'ezs42' vector).
        val lonE = expr(); expect(",")
        val latE = expr()
        val prec = if (peekIs(",")) { expect(","); number() } else 5
        expect(")")
        if (prec < 1 || prec > 12)
          throw new KqlParseException(s"geo_point_to_geohash precision must be 1..12, got $prec")
        return df => geohashCol(lonE(df), latE(df), prec)
      }
      if (name == "geo_geohash_to_central_point") {
        // decode: GeoJSON point at the cell center (the center always
        // re-encodes to the same hash — the round-trip contract);
        // malformed hashes → null (functions/GeoHash.scala)
        val e = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeohashCentralPoint(
            GraftColumnBridge.catalystExpression(e(df).cast("string"))))
        }
      }
      if (name == "geo_point_to_s2cell") {
        // geo_point_to_s2cell(lon, lat, level) — S2 cell token (Kusto's
        // geo join/partition key; default level 11 per the docs). Level
        // is a parse-time literal like geohash precision; encode is one
        // flat native codegen'd expression (functions/S2Cell.scala).
        val lonE = expr(); expect(",")
        val latE = expr()
        val level = if (peekIs(",")) { expect(","); number() } else 11
        expect(")")
        if (level < 0 || level > 30)
          throw new KqlParseException(s"geo_point_to_s2cell level must be 0..30, got $level")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.S2CellToken(
            GraftColumnBridge.catalystExpression(lonE(df).cast("double")),
            GraftColumnBridge.catalystExpression(latE(df).cast("double")),
            level.toInt))
        }
      }
      if (name == "geo_s2cell_to_central_point") {
        // decode: GeoJSON point at the exact cell center (same
        // round-trip contract as the geohash pair); malformed → null
        val e = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.S2CellCentralPoint(
            GraftColumnBridge.catalystExpression(e(df).cast("string"))))
        }
      }
      if (name == "geo_s2cell_to_polygon" || name == "geo_geohash_to_polygon") {
        // cell boundary as a closed GeoJSON Polygon ring — composes
        // with the shape scalars (area/perimeter/point-in-polygon)
        val e = expr(); expect(")")
        val s2 = name == "geo_s2cell_to_polygon"
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val c = GraftColumnBridge.catalystExpression(e(df).cast("string"))
          GraftColumnBridge.column(
            if (s2) graft.functions.S2CellPolygon(c) else graft.functions.GeohashPolygon(c))
        }
      }
      if (name == "geo_simplify_polygons_array") {
        // JOINT topology-preserving simplification of a polygon set
        // (functions/GeoJointSimplify.scala pins the shared-chain spec:
        // shared borders simplify identically on both sides or the
        // result is loudly null — never diverging slivers).
        val arrB = expr(); expect(","); val tolB = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoSimplifyPolygonsArray(
            GraftColumnBridge.catalystExpression(arrB(df).cast("array<string>")),
            GraftColumnBridge.catalystExpression(tolB(df).cast("double"))))
        }
      }
      if (name == "geo_line_simplify" || name == "geo_polygon_simplify") {
        // Douglas–Peucker on the sphere (great-circle point-to-segment
        // distances — agrees with geo_distance_point_to_line about
        // "within tolerance"); null on malformed shapes / tolerance ≤ 0
        val shape = expr(); expect(",")
        val tol = expr(); expect(")")
        val isLine = name == "geo_line_simplify"
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val s = GraftColumnBridge.catalystExpression(shape(df).cast("string"))
          val t = GraftColumnBridge.catalystExpression(tol(df).cast("double"))
          GraftColumnBridge.column(
            if (isLine) graft.functions.GeoLineSimplify(s, t)
            else graft.functions.GeoPolygonSimplify(s, t))
        }
      }
      if (name == "geo_union_polygons_array") {
        // left-to-right fold of the pairwise union (GeoBool engine);
        // degenerate contact between members is loudly null
        val arrB = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoUnionPolygonsArray(
            GraftColumnBridge.catalystExpression(arrB(df).cast("array<string>"))))
        }
      }
      if (name == "geo_intersection_line_with_polygon" || name == "geo_intersection_2lines") {
        // line-clip / crossing-point construction (GeoBool engine's
        // general-position pin: boundary contact is loudly null; empty
        // results are null)
        val isClip = name == "geo_intersection_line_with_polygon"
        val aB = expr(); expect(","); val bB = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val l = GraftColumnBridge.catalystExpression(aB(df).cast("string"))
          val r = GraftColumnBridge.catalystExpression(bB(df).cast("string"))
          GraftColumnBridge.column(
            if (isClip) graft.functions.GeoIntersectionLineWithPolygon(l, r)
            else graft.functions.GeoIntersection2Lines(l, r))
        }
      }
      if (name == "geo_intersection_2polygons" || name == "geo_union_2polygons") {
        // general polygon boolean construction (functions/GeoBool.scala
        // pins the even-odd overlay spec): concave operands, holes, and
        // MultiPolygon in/out are supported; non-transversal boundary
        // contact (collinear overlap, vertex-on-edge) and empty
        // intersections are loudly null — never a silently-wrong shape.
        val isUnion = name == "geo_union_2polygons"
        val aB = expr(); expect(","); val bB = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val l = GraftColumnBridge.catalystExpression(aB(df).cast("string"))
          val r = GraftColumnBridge.catalystExpression(bB(df).cast("string"))
          GraftColumnBridge.column(
            if (isUnion) graft.functions.GeoUnion2Polygons(l, r)
            else graft.functions.GeoIntersection2Polygons(l, r))
        }
      }
      if (name == "geo_point_buffer") {
        // geo_point_buffer(lon, lat, radius [, tolerance]) — the circle
        // polygon (GeoSimplifyOps.pointBuffer pins the N-gon spec);
        // tolerance defaults to max(radius·3%, 0.1 m) — Kusto leaves the
        // default unspecified, this pin keeps the vertex count bounded
        // and scale-proportional.
        val lonB = expr(); expect(","); val latB = expr(); expect(",")
        val radB = expr()
        val tolB = if (peekIs(",")) { expect(","); Some(expr()) } else None
        expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val rad = radB(df).cast("double")
          val tol = tolB.fold(greatest(rad * lit(0.03), lit(0.1)))(_(df).cast("double"))
          GraftColumnBridge.column(graft.functions.GeoPointBuffer(
            GraftColumnBridge.catalystExpression(lonB(df).cast("double")),
            GraftColumnBridge.catalystExpression(latB(df).cast("double")),
            GraftColumnBridge.catalystExpression(rad),
            GraftColumnBridge.catalystExpression(tol)))
        }
      }
      if (name == "geo_line_buffer" || name == "geo_polygon_buffer") {
        // geo_line_buffer(line, radius [, tolerance]) /
        // geo_polygon_buffer(polygon, radius [, tolerance]) — offset
        // curves with arc joins (functions/GeoBuffer.scala pins the
        // planar local-frame subset and the loud-null degeneracies);
        // tolerance defaults to max(radius·3%, 0.1 m) — the
        // geo_point_buffer pin.
        val shapeB = expr(); expect(","); val radB = expr()
        val tolB = if (peekIs(",")) { expect(","); Some(expr()) } else None
        expect(")")
        val isLine = name == "geo_line_buffer"
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val rad = radB(df).cast("double")
          val tol = tolB.fold(greatest(rad * lit(0.03), lit(0.1)))(_(df).cast("double"))
          val s = GraftColumnBridge.catalystExpression(shapeB(df).cast("string"))
          val r = GraftColumnBridge.catalystExpression(rad)
          val t = GraftColumnBridge.catalystExpression(tol)
          GraftColumnBridge.column(
            if (isLine) graft.functions.GeoLineBuffer(s, r, t)
            else graft.functions.GeoPolygonBuffer(s, r, t))
        }
      }
      if (name == "geo_line_densify" || name == "geo_polygon_densify") {
        // planar edges → geodesic chains by recursive planar bisection
        // (GeoSimplifyOps pins the midpoint-deviation rule); tolerance
        // optional, Kusto's default 10 m, valid range [0.1, 5000] →
        // out-of-range is loudly null. The preserve_crossing antimeridian
        // argument is outside the geo ring's documented subset.
        val shape = expr()
        val tol = if (peekIs(",")) { expect(","); Some(expr()) } else None
        expect(")")
        val isLine = name == "geo_line_densify"
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          val s = GraftColumnBridge.catalystExpression(shape(df).cast("string"))
          val t = GraftColumnBridge.catalystExpression(
            tol.fold(lit(10.0))(_(df)).cast("double"))
          GraftColumnBridge.column(
            if (isLine) graft.functions.GeoLineDensify(s, t)
            else graft.functions.GeoPolygonDensify(s, t))
        }
      }
      if (name == "geo_polygon_to_s2cells") {
        // geo_polygon_to_s2cells(polygon, level) — the covering that
        // makes polygon joins a cell-key equi-join: cover the polygons
        // at level L, explode, and join point cells at the same level.
        // Level is a parse-time literal (the s2cell stance); coverings
        // past 65536 cells, malformed polygons → null.
        val e = expr(); expect(",")
        val level = number()
        expect(")")
        if (level < 0 || level > 30)
          throw new KqlParseException(s"geo_polygon_to_s2cells level must be 0..30, got $level")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.S2PolygonCover(
            GraftColumnBridge.catalystExpression(e(df).cast("string")), level.toInt))
        }
      }
      if (name == "geo_line_to_s2cells") {
        // geo_line_to_s2cells(line, level) — the line-join covering:
        // cells intersecting the LineString, polygonCover's exact BFS +
        // planar-test stance. Kusto's optional buffer radius is outside
        // the documented subset (the no-buffer stance) — two-arg form
        // only. Level is a parse-time literal; 65536-cell cap.
        val e = expr(); expect(",")
        val level = number()
        expect(")")
        if (level < 0 || level > 30)
          throw new KqlParseException(s"geo_line_to_s2cells level must be 0..30, got $level")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.S2LineCover(
            GraftColumnBridge.catalystExpression(e(df).cast("string")), level.toInt))
        }
      }
      if (name == "geo_s2cell_neighbors") {
        // the 8 same-level neighbors (7 distinct at cube corners),
        // crossing faces via the published FromFaceIJWrap walk
        val e = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.S2CellNeighbors(
            GraftColumnBridge.catalystExpression(e(df).cast("string"))))
        }
      }
      if (name == "geo_geohash_neighbors") {
        // up-to-8 surrounding cells at the same precision (lon wraps,
        // pole neighbors dropped — pinned)
        val e = expr(); expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeohashNeighbors(
            GraftColumnBridge.catalystExpression(e(df).cast("string"))))
        }
      }
      if (name == "range") {
        // scalar range(start, stop [, step]) → dynamic array, stop
        // INCLUSIVE (Kusto); numeric and datetime+timespan forms ride
        // Spark's sequence
        val a = expr(); expect(",")
        val b = expr()
        val st = if (peekIs(",")) { expect(","); Some(expr()) } else None
        expect(")")
        return df => st match {
          case Some(sc) => sequence(a(df), b(df), sc(df))
          case None => sequence(a(df), b(df))
        }
      }
      if (name == "percentiles_array" || name == "percentilesw_array") {
        // array forms of the multi-percentile aggregates: one exact
        // kernel per P, packed into a dynamic array (Kusto shape)
        val c = expr()
        val w = if (name == "percentilesw_array") { expect(","); Some(expr()) } else None
        val ps = List.newBuilder[Double]
        while (peekIs(",")) {
          expect(",")
          val t = next()
          if (t.kind != "num") throw new KqlParseException(s"$name() P values must be number literals")
          val p = t.text.toDouble
          if (p < 0 || p > 100) throw new KqlParseException(s"percentile P must be 0..100, got $p")
          ps += p
        }
        expect(")")
        val psL = ps.result()
        if (psL.isEmpty) throw new KqlParseException(s"$name() needs at least one P value")
        return df => array(psL.map { p =>
          w match {
            case Some(we) => weightedPercentile(c(df), we(df), p)
            case None => percentile(c(df), lit(p / 100.0))
          }
        }: _*)
      }
      if (name == "percentile") {
        // percentile(col, P) — exact interpolated percentile (an exactness
        // upgrade over Kusto's T-digest approximation; same interpolation
        // as DuckDB's quantile_cont, so oracles hash-match)
        val e = expr(); expect(",")
        val p = number(); expect(")")
        if (p < 0 || p > 100) throw new KqlParseException(s"percentile P must be 0..100, got $p")
        return df => percentile(e(df), lit(p / 100.0))
      }
      if (name == "percentilew") {
        // percentilew(col, weight, P) — weighted percentile, PINNED to
        // exact weighted nearest-rank (smallest value whose cumulative
        // weight reaches P% of the total; Kusto t-digest-approximates —
        // same exactness upgrade as percentile()).
        val e = expr(); expect(",")
        val w = expr(); expect(",")
        val p = number(); expect(")")
        if (p < 0 || p > 100) throw new KqlParseException(s"percentilew P must be 0..100, got $p")
        return df => weightedPercentile(e(df), w(df), p)
      }
      if (name == "round") {
        val e = expr()
        val scale =
          if (peekIs(",")) { expect(","); number() } else 0
        expect(")")
        return df => round(e(df), scale)
      }
      if (name == "split") {
        // Kusto split(source, delimiter[, index]) — delimiter is a PLAIN
        // string, Spark's split takes a regex: quote it (parse-time
        // literal). With the optional 0-based index, returns one element
        // (null when out of range), as in Kusto.
        val e = expr(); expect(",")
        val d = next()
        if (d.kind != "str") throw new KqlParseException("split() delimiter must be a string literal")
        val idx = if (peekIs(",")) { expect(","); Some(number()) } else None
        expect(")")
        val pat = java.util.regex.Pattern.quote(d.text)
        return idx match {
          case None => df => split(e(df), pat)
          case Some(i) => df => {
            val arr = split(e(df), pat)
            when(size(arr) > i, element_at(arr, i + 1))
          }
        }
      }
      if (name == "datetime_add" || name == "datetime_diff" || name == "datetime_part") {
        // part is a parse-time string literal (Kusto usage). add is
        // calendar-aware (month arithmetic clamps end-of-month, time of
        // day preserved); diff counts BOUNDARY CROSSINGS (Kusto's
        // documented semantics — truncate both ends to the period grid,
        // then count grid steps), part extracts the component.
        val pt = next()
        if (pt.kind != "str") throw new KqlParseException(s"$name() period must be a string literal")
        val part = pt.text.toLowerCase
        expect(",")
        if (name == "datetime_add") {
          val amt = expr(); expect(","); val dt = expr(); expect(")")
          // calendar units ride add_months on the date part (clamps
          // end-of-month, as Kusto does) with the time of day
          // re-attached; fixed-width units are plain micros arithmetic
          val monthsPer = Map("year" -> 12, "quarter" -> 3, "month" -> 1)
          val usPer = Map(
            "week" -> 7L * 86400000000L, "day" -> 86400000000L,
            "hour" -> 3600000000L, "minute" -> 60000000L, "second" -> 1000000L,
            "millisecond" -> 1000L, "microsecond" -> 1L)
          if (monthsPer.contains(part)) {
            val k = monthsPer(part)
            return df => {
              val c = dt(df)
              val tod = unix_micros(c) - unix_micros(date_trunc("day", c))
              val nd = add_months(to_date(c), (amt(df) * lit(k)).cast("int"))
              timestamp_micros(unix_micros(nd.cast("timestamp")) + tod)
            }
          }
          if (usPer.contains(part))
            return df =>
              timestamp_micros(unix_micros(dt(df)) + amt(df).cast("long") * lit(usPer(part)))
          throw new KqlParseException(s"unsupported datetime_add period '$part'")
        }
        if (name == "datetime_diff") {
          val aB = expr(); expect(","); val bB = expr(); expect(")")
          return df => {
            val (a, b) = (aB(df), bB(df))
            def monthsOf(c: Column) = year(c) * 12 + month(c) - 1
            part match {
              case "year" => (year(a) - year(b)).cast("long")
              case "quarter" => (monthsOf(a) / 3 - monthsOf(b) / 3).cast("long")
              case "month" => (monthsOf(a) - monthsOf(b)).cast("long")
              case "week" | "day" | "hour" | "minute" | "second" | "millisecond" | "microsecond" =>
                val us = part match {
                  case "week" => 7L * 86400000000L
                  case "day" => 86400000000L
                  case "hour" => 3600000000L
                  case "minute" => 60000000L
                  case "second" => 1000000L
                  case "millisecond" => 1000L
                  case _ => 1L
                }
                // week grid anchors on Monday (date_trunc week); others
                // divide the epoch-grid truncation directly
                val (ga, gb) =
                  if (part == "week") (unix_micros(date_trunc("week", a)), unix_micros(date_trunc("week", b)))
                  else (unix_micros(a) - pmod(unix_micros(a), lit(us)),
                        unix_micros(b) - pmod(unix_micros(b), lit(us)))
                ((ga - gb) / lit(us)).cast("long")
              case other => throw new KqlParseException(s"unsupported datetime_diff period '$other'")
            }
          }
        }
        val dtB = expr(); expect(")")
        return df => {
          val c = dtB(df)
          (part match {
            case "year" => year(c); case "quarter" => quarter(c); case "month" => month(c)
            case "week" | "week_of_year" => weekofyear(c)
            case "day" => dayofmonth(c); case "dayofyear" => dayofyear(c)
            case "hour" => hour(c); case "minute" => minute(c); case "second" => second(c)
            case other => throw new KqlParseException(s"unsupported datetime_part '$other'")
          }).cast("long")
        }
      }
      if (name == "row_rank_min" || name == "row_rank_dense") {
        // value-based ranks over the Term's own order (≡ Kusto's
        // run-based ranks whenever the frame is serialized by Term —
        // the documented usage; value-based keeps them deterministic
        // even when it is not)
        val e = expr(); expect(")")
        val dense = name == "row_rank_dense"
        return df => {
          val w = org.apache.spark.sql.expressions.Window.orderBy(e(df).asc)
          (if (dense) dense_rank() else rank()).over(w).cast("long")
        }
      }
      if (name == "parse_command_line") {
        // parse_command_line(cmd, 'windows'): CommandLineToArgvW argv
        // split — parser type is a parse-time literal and 'windows' is
        // the only type Kusto documents (loud otherwise); one native
        // codegen'd expression, TextHash.parseCommandLine has the
        // pinned quote/backslash rules
        val src = expr(); expect(",")
        val t = next()
        if (t.kind != "str" || t.text != "windows")
          throw new KqlParseException("parse_command_line() parser type must be the literal 'windows'")
        expect(")")
        return df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.ParseCommandLine(
            GraftColumnBridge.catalystExpression(src(df).cast("string"))))
        }
      }
      if (name == "countof") {
        // countof(source, search[, kind]) — Kusto's documented split:
        // plain-string matches OVERLAP (a zero-width lookahead counts
        // every match position), regex matches do NOT (the scanner
        // resumes after each match) — "Plain string matches may
        // overlap; regex matches don't."
        val e = expr(); expect(",")
        val s = next()
        if (s.kind != "str") throw new KqlParseException("countof() search must be a string literal")
        val kind = if (peekIs(",")) {
          expect(",")
          val k = next()
          if (k.kind != "str" || (k.text != "normal" && k.text != "regex"))
            throw new KqlParseException("countof() kind must be 'normal' or 'regex'")
          k.text
        } else "normal"
        expect(")")
        val pat = if (kind == "normal") s"(?=${java.util.regex.Pattern.quote(s.text)})"
                  else s.text
        return df => regexp_count(e(df), lit(pat)).cast("long")
      }
      if (name == "decimal") {
        // Kusto decimal literal: decimal(1.5) — an exact 128-bit decimal
        // constant. Lowered as a Spark DecimalType(38,18) literal so
        // decimal arithmetic stays exact end-to-end (Kusto's decimal is
        // 128-bit; 38,18 is Spark's widest analog). The argument must be
        // a number literal (it is a LITERAL constructor, not a cast —
        // todecimal() is the cast).
        val neg = peekIs("-"); if (neg) expect("-")
        val t = next()
        if (t.kind != "num") throw new KqlParseException("decimal() takes a number literal")
        expect(")")
        val bd = new java.math.BigDecimal((if (neg) "-" else "") + t.text)
        return _ => lit(bd).cast("decimal(38,18)")
      }
      if (name == "series_outliers") {
        // series_outliers(arr [, kind]) — Tukey-fence anomaly scores per
        // element (graft.functions.SeriesDecompose.outliers): 'ctukey'
        // (default) fences on the 10/90 percentiles, 'tukey' on 25/75.
        // kind is a parse-time literal (compile-time quantile dispatch).
        val a = expr()
        val (pLo, pHi) =
          if (peekIs(",")) {
            expect(",")
            val k = next()
            if (k.kind != "str") throw new KqlParseException("series_outliers kind must be a string literal")
            k.text match {
              case "ctukey" => (0.10, 0.90)
              case "tukey" => (0.25, 0.75)
              case other => throw new KqlParseException(s"series_outliers kind must be 'ctukey' or 'tukey', got '$other'")
            }
          } else (0.10, 0.90)
        expect(")")
        return df => graft.functions.SeriesDecompose.outliers(a(df), pLo, pHi)
      }
      if (name == "strcat_array") {
        // delimiter is a parse-time literal (the Scala array_join API
        // takes a String, same constraint as strcat_delim)
        val a = expr(); expect(",")
        val d = next()
        if (d.kind != "str") throw new KqlParseException("strcat_array() delimiter must be a string literal")
        expect(")")
        return df => array_join(a(df), d.text)
      }
      if (name == "strcat_delim") {
        val d = next()
        if (d.kind != "str") throw new KqlParseException("strcat_delim() separator must be a string literal")
        expect(",")
        val parts = sepBy1(() => expr()); expect(")")
        return df => concat_ws(d.text, parts.map(_(df)): _*)
      }
      if (name == "trim" || name == "trim_start" || name == "trim_end") {
        // Kusto trim/trim_start/trim_end(regex, source): strip leading
        // and/or trailing matches
        val r = next()
        if (r.kind != "str") throw new KqlParseException(s"$name() regex must be a string literal")
        expect(",")
        val e = expr(); expect(")")
        val pat = name match {
          case "trim_start" => s"^(${r.text})+"
          case "trim_end" => s"(${r.text})+$$"
          case _ => s"^(${r.text})+|(${r.text})+$$"
        }
        return df => regexp_replace(e(df), pat, "")
      }
      if (name == "binary_shift_left" || name == "binary_shift_right") {
        // shift count is a parse-time literal (Spark's shiftleft/right
        // take Int); Kusto usage is literal in practice
        val e = expr(); expect(",")
        val n = number(); expect(")")
        val left = name == "binary_shift_left"
        return df => {
          val v = e(df).cast("long")
          if (left) shiftleft(v, n) else shiftright(v, n)
        }
      }
      if (name == "translate") {
        // Kusto translate(searchList, replacementList, source) — note
        // the source-LAST argument order. The character lists must be
        // literals (Spark's codegen'd translate takes literal maps, and
        // Kusto usage is literal in practice).
        val search = next()
        if (search.kind != "str") throw new KqlParseException("translate() search list must be a string literal")
        expect(",")
        val repl = next()
        if (repl.kind != "str") throw new KqlParseException("translate() replacement list must be a string literal")
        expect(",")
        val e = expr(); expect(")")
        return df => translate(e(df), search.text, repl.text)
      }
      if (name == "estimate_data_size") {
        // estimate_data_size(*) / estimate_data_size(c1, c2, …) —
        // Kusto's payload-size estimator, pinned to the documented
        // per-type sizes: int 4; long/real/datetime/timespan/date 8;
        // bool 1; decimal 17; string and dynamic their UTF-8 BYTE
        // length; null contributes 0. Codegen'd octet_length + literal
        // adds in the scan projection — map-only.
        val explicit: Option[List[ColB]] =
          if (peekIs("*")) { expect("*"); expect(")"); None }
          else { val a = sepBy1(() => expr()); expect(")"); Some(a) }
        return df => {
          import org.apache.spark.sql.types._
          val cs: Seq[Column] =
            explicit.map(_.map(_(df))).getOrElse(df.columns.toSeq.map(col(_)))
          cs.map { c =>
            val sz: Column = dataTypeOf(df, c) match {
              case Some(IntegerType)               => lit(4)
              case Some(BooleanType)               => lit(1)
              case Some(_: DecimalType)            => lit(17)
              case Some(LongType | DoubleType | FloatType |
                        TimestampType | TimestampNTZType | DateType) => lit(8)
              case Some(StringType)                => octet_length(c)
              case _                               => octet_length(c.cast("string"))
            }
            when(c.isNull, lit(0)).otherwise(sz)
          }.reduce(_ + _).cast("long")
        }
      }
      val args: List[ColB] =
        if (peekIs(")")) { expect(")"); Nil }
        else { val a = sepBy1(() => expr()); expect(")"); a }
      def arity(n: Int): Unit =
        if (args.length != n)
          throw new KqlParseException(s"$name() expects $n arguments, got ${args.length}")
      name match {
        case "pack_all" => arity(0); df => Kql.packAll(df)
        case "row_number" => arity(0); df => row_number().over(serializedWindow(df)).cast("long")
        // running total over the serialized order (Kusto row_cumsum; the
        // optional reset argument is not supported — use a keyed window)
        case "row_cumsum" => arity(1); df => {
          val w = serializedWindow(df).rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
          sum(args.head(df)).over(w)
        }
        // element-wise series arithmetic (Kusto series_add/…): array ⊕
        // array zips, array ⊕ scalar broadcasts the scalar — map-only
        // array lambdas, never explode + join
        case "series_add" | "series_subtract" | "series_multiply" | "series_divide" =>
          arity(2)
          df => {
            val (a, b) = (args(0)(df), args(1)(df))
            def op(x: Column, y: Column): Column = name match {
              case "series_add" => x + y
              case "series_subtract" => x - y
              case "series_multiply" => x * y
              case _ => x.cast("double") / y.cast("double") // Kusto divide is real
            }
            import org.apache.spark.sql.types.ArrayType
            val bIsArray = dataTypeOf(df, b).exists(_.isInstanceOf[ArrayType])
            if (bIsArray) zip_with(a, b, (x, y) => op(x, y))
            else transform(a, x => op(x, b))
          }
        // elementwise unary series math — map-only array lambdas
        case "series_abs" | "series_exp" | "series_log" | "series_sqrt" |
             "series_sign" | "series_sin" | "series_cos" | "series_tan" |
             "series_atan" | "series_asin" | "series_acos" |
             "series_floor" | "series_ceiling" =>
          arity(1)
          df => transform(args.head(df), x => name match {
            case "series_abs" => abs(x.cast("double"))
            case "series_exp" => exp(x.cast("double"))
            case "series_log" => log(x.cast("double"))
            case "series_sqrt" => sqrt(x.cast("double"))
            case "series_sign" => signum(x.cast("double"))
            case "series_sin" => sin(x.cast("double"))
            case "series_cos" => cos(x.cast("double"))
            case "series_atan" => atan(x.cast("double"))
            case "series_asin" => asin(x.cast("double"))
            case "series_acos" => acos(x.cast("double"))
            case "series_floor" => floor(x.cast("double")).cast("double")
            case "series_ceiling" => ceil(x.cast("double")).cast("double")
            case _ => tan(x.cast("double"))
          })
        // series reductions → scalar real. Pinned empty-array results:
        // sum 0, product 1 (the fold identities), min/max/avg null.
        case "series_sum" => arity(1); df =>
          aggregate(args.head(df), lit(0.0), (acc, x) => acc + x.cast("double"))
        case "series_product" => arity(1); df =>
          aggregate(args.head(df), lit(1.0), (acc, x) => acc * x.cast("double"))
        case "series_min" => arity(1); df =>
          array_min(transform(args.head(df), _.cast("double")))
        case "series_max" => arity(1); df =>
          array_max(transform(args.head(df), _.cast("double")))
        case "series_avg" => arity(1); df => {
          val a = args.head(df)
          when(size(a) > 0,
            aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) / size(a))
        }
        // element-wise comparisons → bool arrays (series_sum counts trues)
        case "series_greater" | "series_greater_equals" | "series_less" |
             "series_less_equals" | "series_equals" | "series_not_equals" =>
          arity(2)
          df => zip_with(args(0)(df), args(1)(df), (x, y) => {
            val (a, b) = (x.cast("double"), y.cast("double"))
            name match {
              case "series_greater" => a > b
              case "series_greater_equals" => a >= b
              case "series_less" => a < b
              case "series_less_equals" => a <= b
              case "series_equals" => a === b
              case _ => a =!= b
            }
          })
        // ipv4_range_to_cidr_list(start, end): minimal covering CIDR
        // blocks (greedy largest-aligned-block split; ≤ 64 entries —
        // functions/Ipv4Cidr.scala); malformed/inverted range → null
        case "ipv4_range_to_cidr_list" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.Ipv4RangeToCidrList(
            GraftColumnBridge.catalystExpression(args(0)(df)),
            GraftColumnBridge.catalystExpression(args(1)(df))))
        }
        // gap-filling family over no-default make-series output — pinned
        // edge rules documented on graft.functions.SeriesDecompose
        case "series_fill_const" =>
          arity(2)
          df => graft.functions.SeriesDecompose.fillConst(args(0)(df), args(1)(df))
        case "series_fill_forward" =>
          arity(1)
          df => graft.functions.SeriesDecompose.fillForward(args.head(df))
        case "series_fill_backward" =>
          arity(1)
          df => graft.functions.SeriesDecompose.fillBackward(args.head(df))
        case "series_fill_linear" =>
          arity(1)
          df => graft.functions.SeriesDecompose.fillLinear(args.head(df))
        case "series_pow" =>
          arity(2)
          df => {
            val (a, b) = (args(0)(df), args(1)(df))
            import org.apache.spark.sql.types.ArrayType
            val bIsArray = dataTypeOf(df, b).exists(_.isInstanceOf[ArrayType])
            if (bIsArray) zip_with(a, b, (x, y) => pow(x.cast("double"), y.cast("double")))
            else transform(a, x => pow(x.cast("double"), b.cast("double")))
          }
        // series_fir(x, filter [, normalize]): causal FIR — the first
        // coefficient multiplies the CURRENT sample, out-of-range
        // history reads as 0, output length = input length. normalize
        // divides the filter by its sum (Kusto's default when every
        // coefficient is non-negative). Pure nested array lambdas:
        // map-only, no explode, stays in codegen.
        case "series_fir" =>
          if (args.length < 2 || args.length > 3)
            throw new KqlParseException("series_fir() expects 2 or 3 arguments")
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            val f0 = args(1)(df)
            val normalize: Column =
              if (args.length == 3) args(2)(df).cast("boolean")
              else forall(f0, c => c.cast("double") >= 0)
            GraftColumnBridge.column(graft.functions.SeriesFirKernel(
              GraftColumnBridge.catalystExpression(transform(args(0)(df), _.cast("double"))),
              GraftColumnBridge.catalystExpression(transform(f0, _.cast("double"))),
              GraftColumnBridge.catalystExpression(normalize)))
          }
        // ---- series ring 4: vector algebra + seasonal/IIR ----
        case "series_dot_product" => arity(2); df => {
          val (a, b) = (args(0)(df), args(1)(df))
          import org.apache.spark.sql.types.ArrayType
          if (dataTypeOf(df, b).exists(_.isInstanceOf[ArrayType]))
            graft.functions.SeriesDecompose.dotProduct(a, b)
          else // scalar operand: Σ aᵢ·s, same sequential fold
            graft.functions.SeriesDecompose.dotProduct(a,
              transform(a, _ => b.cast("double")))
        }
        case "series_magnitude" => arity(1); df =>
          graft.functions.SeriesDecompose.magnitude(args.head(df))
        case "series_cosine_similarity" => arity(2); df =>
          graft.functions.SeriesDecompose.cosineSimilarity(args(0)(df), args(1)(df))
        // series_seasonal(x, period) — the decompose per-phase-median
        // component standalone; period is REQUIRED (autodetect -1 fails
        // loudly, the decompose stance)
        case "series_seasonal" => arity(2); df =>
          graft.functions.SeriesDecompose.seasonal(args(0)(df), args(1)(df))
        case "series_iir" => arity(3); df =>
          graft.functions.SeriesDecompose.iir(args(0)(df), args(1)(df), args(2)(df))
        // series_pearson_correlation(a, b): Pearson r over the common
        // prefix (make-series axes share lengths; slices guard anyway).
        // Pure sequential folds — index order pinned for cross-engine
        // reproducibility.
        case "series_pearson_correlation" => arity(2); df => {
          val n0 = least(size(args(0)(df)), size(args(1)(df)))
          val a = transform(slice(args(0)(df), lit(1), n0), _.cast("double"))
          val b = transform(slice(args(1)(df), lit(1), n0), _.cast("double"))
          val n = n0.cast("double")
          def fold(xs: Column) = aggregate(xs, lit(0.0), (s, x) => s + x)
          val sx = fold(a); val sy = fold(b)
          val sxy = fold(zip_with(a, b, (x, y) => x * y))
          val sxx = fold(zip_with(a, a, (x, y) => x * y))
          val syy = fold(zip_with(b, b, (x, y) => x * y))
          val den = sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
          when(n0 >= 2 && den > 0.0, (n * sxy - sx * sy) / den)
        }
        case "case" =>
          if (args.length < 3 || args.length % 2 == 0)
            throw new KqlParseException("case() expects p1, v1, …, default")
          df => Kql.kqlCase(
            args.init.grouped(2).collect { case List(p, v) => (p(df), v(df)) }.toSeq,
            args.last(df))
        case "iff" | "iif" => arity(3); df => when(args(0)(df), args(1)(df)).otherwise(args(2)(df))
        case "strcat" => df => concat(args.map(_(df)): _*)
        case "strlen" => arity(1); df => length(args.head(df)).cast("long") // Kusto strlen: long
        case "tolower" => arity(1); df => lower(args.head(df))
        case "toupper" => arity(1); df => upper(args.head(df))
        // Kusto tostring() over dynamic yields JSON text; over scalars it
        // is a plain string cast. We resolve the argument's type against
        // the frame (schema analysis only — no execution) and pick the
        // branch. Top-level datetime arrays serialize each element in
        // Kusto's canonical ISO-8601 tick form (7 fractional digits, Z).
        case "tostring" => arity(1); df => {
          val c = args.head(df)
          import org.apache.spark.sql.types._
          val dt = df.select(c).schema.head.dataType
          dt match {
            case ArrayType(TimestampType, _) =>
              to_json(transform(c, x =>
                concat(date_format(x, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("0Z"))))
            case _: ArrayType | _: MapType | _: StructType => to_json(c)
            case _ => c.cast("string")
          }
        }
        // toX conversion family: Kusto contract is NULL on unparseable
        // input — ANSI cast throws, so these lower to try_cast (same
        // result for valid input, null instead of error otherwise; the
        // round-15 parse-operator lesson applied to the whole family)
        case "tobool" | "toboolean" => arity(1); df => args.head(df).try_cast("boolean")
        case "tohex" => arity(1); df => lower(hex(args.head(df)))
        case "string_size" => arity(1); df => octet_length(args.head(df)).cast("long")
        case "isnan" => arity(1); df => isnan(args.head(df))
        case "isinf" => arity(1); df =>
          args.head(df) === lit(Double.PositiveInfinity) ||
            args.head(df) === lit(Double.NegativeInfinity)
        // isfinite: not NaN, not ±Inf, not null (Kusto: null → false)
        case "isfinite" => arity(1); df => {
          val v = args.head(df)
          coalesce(!isnan(v) && v =!= lit(Double.PositiveInfinity) &&
            v =!= lit(Double.NegativeInfinity), lit(false))
        }
        case "set_has_element" => arity(2); df =>
          array_contains(args(0)(df), args(1)(df))
        case "todatetime" => arity(1); df => args.head(df).try_cast("timestamp")
        // start-of-period truncations (Grafana time-range macros expand to
        // these). Kusto weeks start SUNDAY — Spark's date_trunc("week") is
        // Monday-based, so startofweek subtracts (dayofweek-1) days
        // (Spark dayofweek: Sunday=1) from the day truncation instead.
        case "startofday" => arity(1); df => date_trunc("day", args.head(df))
        case "startofweek" => arity(1); df => {
          val c = args.head(df)
          date_sub(c.cast("date"), dayofweek(c) - lit(1)).cast("timestamp")
        }
        case "startofmonth" => arity(1); df => date_trunc("month", args.head(df))
        case "startofyear" => arity(1); df => date_trunc("year", args.head(df))
        // datetime part extractors (UTC, as the engine pins session tz)
        case "getyear" => arity(1); df => year(args.head(df)).cast("long")
        case "getmonth" | "monthofyear" => arity(1); df => month(args.head(df)).cast("long")
        case "dayofyear" => arity(1); df => dayofyear(args.head(df)).cast("long")
        case "week_of_year" | "weekofyear" => arity(1); df => weekofyear(args.head(df)).cast("long")
        case "dayofmonth" => arity(1); df => dayofmonth(args.head(df)).cast("long")
        case "hourofday" => arity(1); df => hour(args.head(df)).cast("long")
        // Kusto dayofweek returns a TIMESPAN since week start (Sunday) —
        // in this engine's timespan model that is micros (0, 1d, 2d, …)
        case "dayofweek" => arity(1); df =>
          (dayofweek(args.head(df)).cast("long") - lit(1L)) * lit(86400000000L)
        // end-of-period = start of the NEXT period minus one micro (the
        // engine's tick; Kusto's is 100ns — same comparison semantics at
        // micros resolution)
        case "endofday" => arity(1); df =>
          timestamp_micros(unix_micros(date_trunc("day", args.head(df))) + lit(86400000000L - 1))
        case "endofmonth" => arity(1); df =>
          timestamp_micros(unix_micros(
            add_months(date_trunc("month", args.head(df)), 1).cast("timestamp")) - lit(1L))
        case "endofyear" => arity(1); df =>
          timestamp_micros(unix_micros(
            add_months(date_trunc("year", args.head(df)), 12).cast("timestamp")) - lit(1L))
        case "endofweek" => arity(1); df => {
          val c = args.head(df)
          timestamp_micros(unix_micros(
            date_sub(c.cast("date"), dayofweek(c) - lit(1)).cast("timestamp")) +
            lit(7L * 86400000000L - 1))
        }
        case "tolong" => arity(1); df => args.head(df).try_cast("long")
        case "toint" => arity(1); df => args.head(df).try_cast("int")
        case "todouble" | "toreal" => arity(1); df => args.head(df).try_cast("double")
        // Kusto decimal is a 128-bit decimal; the widest Spark analog is
        // DecimalType(38, 18) — 20 integer digits, 18 fractional, exact
        // arithmetic (Catalyst's decimal rules then widen/narrow per
        // operation). The reference's own IT table carries a decimal
        // column (it-table-setup.kql:1, `vdec`).
        case "todecimal" => arity(1); df => args.head(df).try_cast("decimal(38,18)")
        // dynamic IS the JSON text in this engine (see dynamicPath), so
        // parse_json/todynamic are the identity; access happens postfix.
        case "parse_json" | "todynamic" | "parse_dynamic" => arity(1); df => args.head(df)
        case "abs" => arity(1); df => abs(args.head(df))
        // ---- basic math ring (round 14): the everyday Kusto scalars;
        // all lower to Spark's codegen'd math Columns ----
        case "exp" => arity(1); df => exp(args.head(df).cast("double"))
        case "exp2" => arity(1); df => pow(lit(2.0), args.head(df).cast("double"))
        case "exp10" => arity(1); df => pow(lit(10.0), args.head(df).cast("double"))
        case "log" => arity(1); df => log(args.head(df).cast("double"))
        case "log2" => arity(1); df => log2(args.head(df).cast("double"))
        case "log10" => arity(1); df => log10(args.head(df).cast("double"))
        case "sqrt" => arity(1); df => sqrt(args.head(df).cast("double"))
        case "pow" => arity(2); df => pow(args(0)(df).cast("double"), args(1)(df).cast("double"))
        case "sin" => arity(1); df => sin(args.head(df).cast("double"))
        case "cos" => arity(1); df => cos(args.head(df).cast("double"))
        case "tan" => arity(1); df => tan(args.head(df).cast("double"))
        case "asin" => arity(1); df => asin(args.head(df).cast("double"))
        case "acos" => arity(1); df => acos(args.head(df).cast("double"))
        case "atan" => arity(1); df => atan(args.head(df).cast("double"))
        case "atan2" => arity(2); df => atan2(args(0)(df).cast("double"), args(1)(df).cast("double"))
        case "cot" => arity(1); df => lit(1.0) / tan(args.head(df).cast("double"))
        case "pi" => arity(0); _ => lit(math.Pi)
        case "degrees" => arity(1); df => degrees(args.head(df).cast("double"))
        case "radians" => arity(1); df => radians(args.head(df).cast("double"))
        // Kusto sign(): real -1/0/1
        case "sign" => arity(1); df => signum(args.head(df).cast("double"))
        // ASCII iff the UTF-8 byte count equals the character count
        case "isascii" => arity(1); df =>
          octet_length(args.head(df)) === length(args.head(df))
        // rand() ∈ [0,1) / rand(n) ∈ {0..n-1}: NONDETERMINISTIC by
        // definition (per-row, per-run) — spec-covered for range only,
        // never oracle-gated
        case "rand" =>
          if (args.length > 1)
            throw new KqlParseException(s"rand() expects 0 or 1 arguments, got ${args.length}")
          df =>
            if (args.isEmpty) rand()
            else floor(rand() * args.head(df).cast("double")).cast("long")
        case "isnull" => arity(1); df => args.head(df).isNull
        case "isnotnull" => arity(1); df => args.head(df).isNotNull
        // Kusto strcmp: -1/0/1 three-way binary-collation compare
        case "strcmp" => arity(2); df =>
          when(args(0)(df) < args(1)(df), lit(-1L))
            .when(args(0)(df) > args(1)(df), lit(1L))
            .otherwise(lit(0L))
        // Kusto hash(): xxhash64 (documented engine choice; Kusto's own
        // hash is also a 64-bit xx-family hash, values differ by seed)
        case "hash" =>
          if (args.length < 1 || args.length > 2)
            throw new KqlParseException("hash() expects 1 or 2 arguments")
          // 2-arg form: hash reduced modulo mod (Kusto contract;
          // non-negative via pmod)
          if (args.length == 1) df => xxhash64(args.head(df))
          else df => pmod(xxhash64(args(0)(df)), args(1)(df).cast("long"))
        // unit-conversion family (UnitsNet naming, the Kusto surface).
        // Documented subset: the common SI + imperial units per family;
        // factors are exact public constants expressed as the SAME
        // IEEE divisions the oracle writes (1852.0/3600.0, π/180, …) so
        // cross-engine results bit-match. Unknown unit → null
        // (exception-total stance). value · f(from) / f(to).
        case "convert_length" | "convert_mass" | "convert_speed" |
             "convert_energy" | "convert_angle" | "convert_volume" |
             "convert_force" =>
          arity(3)
          df => {
            val factors: Map[String, Double] = name match {
              case "convert_length" => Map(
                "Meter" -> 1.0, "Kilometer" -> 1000.0, "Centimeter" -> 0.01,
                "Millimeter" -> 0.001, "Micrometer" -> 1e-6, "Mile" -> 1609.344,
                "Yard" -> 0.9144, "Foot" -> 0.3048, "Inch" -> 0.0254,
                "NauticalMile" -> 1852.0)
              case "convert_mass" => Map(
                "Kilogram" -> 1.0, "Gram" -> 0.001, "Milligram" -> 1e-6,
                "Tonne" -> 1000.0, "Pound" -> 0.45359237,
                "Ounce" -> 0.45359237 / 16.0, "Stone" -> 6.35029318)
              case "convert_speed" => Map(
                "MeterPerSecond" -> 1.0, "KilometerPerHour" -> 1.0 / 3.6,
                "MilePerHour" -> 0.44704, "Knot" -> 1852.0 / 3600.0,
                "FootPerSecond" -> 0.3048)
              case "convert_energy" => Map(
                "Joule" -> 1.0, "Kilojoule" -> 1000.0, "Calorie" -> 4.184,
                "Kilocalorie" -> 4184.0, "WattHour" -> 3600.0,
                "KilowattHour" -> 3.6e6, "BritishThermalUnit" -> 1055.05585262,
                "Electronvolt" -> 1.602176634e-19)
              case "convert_angle" => Map(
                "Radian" -> 1.0, "Degree" -> math.Pi / 180.0,
                "Gradian" -> math.Pi / 200.0, "Revolution" -> 2.0 * math.Pi)
              case "convert_volume" => Map(
                "CubicMeter" -> 1.0, "Liter" -> 0.001, "Milliliter" -> 1e-6,
                "CubicFoot" -> 0.3048 * 0.3048 * 0.3048,
                "CubicInch" -> 0.0254 * 0.0254 * 0.0254,
                "UsGallon" -> 0.003785411784, "ImperialGallon" -> 0.00454609)
              case _ => Map(
                "Newton" -> 1.0, "Kilonewton" -> 1000.0,
                "PoundForce" -> 4.4482216152605, "KilogramForce" -> 9.80665,
                "Dyn" -> 1e-5)
            }
            val v = args(0)(df).cast("double")
            def f(c: Column): Column = factors.foldLeft(lit(null).cast("double")) {
              case (acc, (u, d)) => when(c === lit(u), lit(d)).otherwise(acc)
            }
            v * f(args(1)(df)) / f(args(2)(df))
          }
        // temperature is AFFINE, not a factor: via Kelvin, with the
        // exact op order (v + 459.67) · 5 / 9 the oracle mirrors
        case "convert_temperature" => arity(3); df => {
          val v = args(0)(df).cast("double")
          def toK(u: Column, x: Column): Column =
            when(u === "Kelvin", x)
              .when(u === "DegreeCelsius", x + lit(273.15))
              .when(u === "DegreeFahrenheit", (x + lit(459.67)) * lit(5.0) / lit(9.0))
          def fromK(u: Column, k: Column): Column =
            when(u === "Kelvin", k)
              .when(u === "DegreeCelsius", k - lit(273.15))
              .when(u === "DegreeFahrenheit", k * lit(9.0) / lit(5.0) - lit(459.67))
          fromK(args(2)(df), toK(args(1)(df), v))
        }
        // statistical family on the regularized incomplete beta
        // (functions/KStat.scala): welch_test(m1,v1,n1,m2,v2,n2) and
        // beta_cdf/beta_pdf(x,α,β), beta_inv(p,α,β)
        case "welch_test" | "beta_cdf" | "beta_pdf" | "beta_inv" =>
          arity(if (name == "welch_test") 6 else 3)
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            GraftColumnBridge.column(graft.functions.KStatCall(name,
              args.map(a => GraftColumnBridge.catalystExpression(a(df).cast("double")))))
          }
        // special functions — pure codegen'd Column arithmetic (KMath)
        case "gamma" => arity(1); df => graft.functions.KMath.gamma(args.head(df))
        case "loggamma" => arity(1); df => graft.functions.KMath.loggamma(args.head(df))
        case "erf" => arity(1); df => graft.functions.KMath.erf(args.head(df))
        case "erfc" => arity(1); df => graft.functions.KMath.erfc(args.head(df))
        // unicode code points (supplementary-plane-exact natives —
        // Spark's own chr() is mod-256)
        // parse_csv(line) → array of fields (RFC 4180 quotes/escapes;
        // one codegen'd native, single-record stance documented on
        // TextHash.parseCsvLine)
        case "parse_csv" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.ParseCsvLine(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "unicode_codepoints_from_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CodepointsFromString(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "unicode_codepoints_to_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CodepointsToString(
            GraftColumnBridge.catalystExpression(args.head(df).cast("array<long>"))))
        }
        // toguid: normalize a GUID string (lowercase, {}/() wrappers
        // stripped, canonical 8-4-4-4-12 shape) — null if malformed,
        // the togNNN cast-family contract
        case "toguid" => arity(1); df => {
          val s0 = lower(trim(args.head(df)))
          val s = regexp_replace(s0, "^[\\{\\(]|[\\}\\)]$", "")
          when(s.rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"), s)
        }
        // regex_quote: per-char metacharacter escaping (pinned to
        // backslash-escape, portable across regex engines — not
        // Java's \Q…\E which only Java understands)
        case "regex_quote" => arity(1); df =>
          regexp_replace(args.head(df), "([\\\\^$.|?*+()\\[\\]{}])", "\\\\$1")
        // parse_ipv6_mask(ip, prefix): canonicalize then zero the low
        // 128-prefix bits — per-group hex→int→mask→hex, all codegen'd
        // Column arithmetic over the 8 canonical groups
        case "parse_ipv6_mask" => arity(2); df => {
          val canon = ipv6Canonical(args(0)(df))
          val pfx = args(1)(df).cast("int")
          val groups = split(canon, ":")
          val masked = transform(groups, (g, i) => {
            val keep = greatest(least(pfx - i * 16, lit(16)), lit(0))
            val v = conv(g, 16, 10).cast("long")
            // top-`keep`-bits mask = 65536 - 2^(16-keep) (exact in
            // double for exponents ≤ 16; shiftleft() needs a literal)
            val mask = (lit(65536L) - pow(lit(2.0), (lit(16) - keep).cast("double")).cast("long"))
            val m = v.bitwiseAND(mask)
            lpad(lower(conv(m.cast("string"), 10, 16)), 4, "0")
          })
          when(canon.isNotNull && pfx.between(0, 128), array_join(masked, ":"))
        }
        // compression-scalar family: zlib bytes are canonical across
        // implementations (Java Deflater IS zlib) so the compressed
        // base64 itself is golden-comparable; gzip headers carry
        // impl-specific OS/mtime bytes, so gzip is gated on decode +
        // round-trip; malformed decompress → null
        case "zlib_deflate_compress_to_base64_string" | "zlib_deflate_decompress_from_base64_string" |
             "gzip_compress_to_base64_string" | "gzip_decompress_from_base64_string" =>
          arity(1)
          val kind = name match {
            case "zlib_deflate_compress_to_base64_string" => "zc"
            case "zlib_deflate_decompress_from_base64_string" => "zd"
            case "gzip_compress_to_base64_string" => "gc"
            case "gzip_decompress_from_base64_string" => "gd"
          }
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            GraftColumnBridge.column(graft.functions.CompressionCodec(
              GraftColumnBridge.catalystExpression(args.head(df)), kind))
          }
        // punycode family (RFC 3492 natives; from_string = encode,
        // to_string = decode — the base64-family naming convention)
        case "punycode_from_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PunycodeEncode(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "punycode_to_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PunycodeDecode(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "punycode_domain_from_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PunycodeDomainEncode(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "punycode_domain_to_string" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PunycodeDomainDecode(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        // hash_many(v1, v2, …): one hash over all the values — engine
        // choice pinned to multi-argument xxhash64 (the hash() family
        // stance; Kusto's own function is likewise engine-specific, so
        // the gate compares dcount-class facts, never raw hash values)
        case "hash_many" =>
          if (args.length < 2)
            throw new KqlParseException("hash_many() expects at least 2 arguments")
          df => xxhash64(args.map(_(df)): _*)
        // hash_combine(h1, h2, …): combine already-computed hashes —
        // pinned to the boost-style 64-bit mix
        // a ⊕ (b + 0x9e3779b97f4a7c15 + (a<<6) + (a>>>2)), folded left
        // (documented engine choice; Java wrap-around arithmetic)
        case "hash_combine" =>
          if (args.length < 2)
            throw new KqlParseException("hash_combine() expects at least 2 arguments")
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            args.map(_(df).cast(org.apache.spark.sql.types.LongType))
              .reduce((a, b) => GraftColumnBridge.column(graft.functions.HashCombine(
                GraftColumnBridge.catalystExpression(a),
                GraftColumnBridge.catalystExpression(b))))
          }
        // bag_zip(keys, values): property bag from parallel arrays —
        // truncated to the shorter array, keys stringified (pinned
        // stance; Kusto skips non-string keys, which for stringifiable
        // scalars coincides after tostring)
        case "bag_zip" => arity(2); df => {
          val ks = args(0)(df); val vs = args(1)(df)
          val n = least(size(ks), size(vs))
          to_json(map_from_arrays(
            transform(slice(ks, lit(1), n), _.cast("string")),
            slice(vs, lit(1), n)))
        }
        // gettype(x): the value's Kusto type name, resolved from the
        // plan's schema at compile time — including the documented
        // legacy quirk gettype(bool) == 'int8'
        case "gettype" => arity(1); df => {
          import org.apache.spark.sql.types._
          val tn = dataTypeOf(df, args.head(df)) match {
            case Some(LongType | IntegerType | ShortType | ByteType) => "long"
            case Some(DoubleType | FloatType) => "real"
            case Some(_: StringType) => "string"
            case Some(BooleanType) => "int8"
            case Some(TimestampType | TimestampNTZType) => "datetime"
            case Some(_: DecimalType) => "decimal"
            case Some(DayTimeIntervalType(_, _)) => "timespan"
            case Some(_: ArrayType) => "array"
            case Some(_: MapType) | Some(_: StructType) => "dictionary"
            case Some(NullType) | None => "null"
            case Some(other) => other.simpleString
          }
          lit(tn)
        }
        // estimate a stored/merged HLL sketch (long, like Kusto)
        case "dcount_hll" => arity(1); df => hll_sketch_estimate(args.head(df))
        case "isempty" => arity(1); df => args.head(df).isNull || length(args.head(df)) === 0
        case "isnotempty" => arity(1); df => args.head(df).isNotNull && length(args.head(df)) > 0
        case "coalesce" => df => coalesce(args.map(_(df)): _*)
        // aggregates
        case "count" => arity(0); _ => count(lit(1))
        case "countif" => arity(1); df => count(when(args.head(df), lit(1)))
        case "sum" => arity(1); df => sum(args.head(df))
        case "avg" => arity(1); df => avg(args.head(df))
        case "min" => arity(1); df => min(args.head(df))
        case "max" => arity(1); df => max(args.head(df))
        // dcount(x) is EXACT here (Kusto's is HLL-approximate; exact is
        // strictly more accurate and oracle-comparable). The 2-arg Kusto
        // form dcount(x, accuracy 0..4) keeps approximate semantics via
        // approx_count_distinct at the documented error levels.
        case "dcount" if args.length == 2 => df => {
          // Kusto accuracy → expected error: 0→1.6%, 1→0.8%, 2→0.4%,
          // 3→0.28%, 4→0.2% (maximumRelativeStandardDeviation)
          val rsd = Seq(0.016, 0.008, 0.004, 0.0028, 0.002)
          val t = args(1)(df).toString.stripSuffix("L") // long literals print as e.g. "2L"
          if (!t.matches("\\d") || t.toInt > 4)
            throw new KqlParseException("dcount accuracy must be a literal 0..4")
          approx_count_distinct(args.head(df), rsd(t.toInt))
        }
        case "dcount" => arity(1); df => countDistinct(args.head(df))
        // count_distinct(x): Kusto's EXACT distinct-count aggregate —
        // the same lowering as 1-arg dcount (already exact here)
        case "count_distinct" => arity(1); df => countDistinct(args.head(df))
        // hll()/hll_merge()/dcount_hll(): Kusto's mergeable cardinality
        // sketches → Spark's DataSketches HLL functions. The sketch is
        // an opaque binary column exactly as in Kusto; merge composes
        // across groups/time windows without re-reading the data. The
        // optional accuracy 0..4 maps to lgConfigK 12..16 (each step
        // halves the error, mirroring the dcount accuracy ladder).
        case "hll" =>
          if (args.length < 1 || args.length > 2)
            throw new KqlParseException("hll() expects 1 or 2 arguments")
          if (args.length == 1) df => hll_sketch_agg(args.head(df))
          else df => {
            val t = args(1)(df).toString.stripSuffix("L")
            if (!t.matches("\\d") || t.toInt > 4)
              throw new KqlParseException("hll accuracy must be a literal 0..4")
            hll_sketch_agg(args.head(df), lit(12 + t.toInt))
          }
        case "hll_merge" => arity(1); df => hll_union_agg(args.head(df))
        case "stdev" => arity(1); df => stddev_samp(args.head(df))
        case "variance" => arity(1); df => var_samp(args.head(df))
        // population forms + covariance family
        case "stdevp" => arity(1); df => stddev_pop(args.head(df))
        case "variancep" => arity(1); df => var_pop(args.head(df))
        case "covariance" => arity(2); df => covar_samp(args(0)(df), args(1)(df))
        case "covariancep" => arity(2); df => covar_pop(args(0)(df), args(1)(df))
        // conditional forms completing the *if family
        case "count_distinctif" => arity(2); df =>
          countDistinct(when(args(1)(df), args(0)(df)))
        case "take_anyif" | "anyif" => arity(2); df =>
          min(when(args(1)(df), args(0)(df))) // take_any's MIN pinning
        case "hll_if" => arity(2); df =>
          hll_sketch_agg(when(args(1)(df), args(0)(df)))
        // make_set is SORTED here (a determinism upgrade over Kusto's
        // unspecified order — oracle-comparable); make_list keeps
        // encounter order, which is partition-dependent, as in Kusto
        // optional 2nd arg: maxSize caps the collected elements
        // (Kusto's documented form; cap applied after the deterministic
        // sort so the kept subset is stable)
        case "make_set" =>
          if (args.length < 1 || args.length > 2)
            throw new KqlParseException("make_set() expects 1 or 2 arguments")
          if (args.length == 1) df => array_sort(collect_set(args.head(df)))
          else df => slice(array_sort(collect_set(args(0)(df))), lit(1), args(1)(df).cast("int"))
        case "make_list" =>
          if (args.length < 1 || args.length > 2)
            throw new KqlParseException("make_list() expects 1 or 2 arguments")
          if (args.length == 1) df => collect_list(args.head(df))
          else df => slice(collect_list(args(0)(df)), lit(1), args(1)(df).cast("int"))
        // conditional collect forms: when() yields null on a false
        // predicate and collect_set/collect_list skip nulls — one agg
        // buffer, no pre-filter pass
        case "make_set_if" => arity(2); df =>
          array_sort(collect_set(when(args(1)(df), args(0)(df))))
        case "make_list_if" => arity(2); df =>
          collect_list(when(args(1)(df), args(0)(df)))
        // make_list_with_nulls: collect_list drops nulls, so collect the
        // value boxed in a struct (never null) and unbox after
        case "make_list_with_nulls" => arity(1); df =>
          transform(collect_list(struct(args.head(df).as("v"))), x => x.getField("v"))
        // make_bag(bag): merge property bags across the group. Kusto
        // keeps "an arbitrary" value on key collisions — pinned here to
        // first-wins over the LEXICOGRAPHICALLY SORTED bag list (same
        // determinization stance as take_any→min), via the same
        // type-preserving Jackson merge as bag_merge()
        case "make_bag" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          // array_distinct before the fold is EXACTLY equivalent
          // (BagMerge is idempotent on identical bags, and first-wins
          // over the sorted order is unchanged — distinct keeps the
          // first occurrence) but turns the quadratic Jackson fold over
          // repeated bags into one merge per DISTINCT bag: the q172
          // 9k-bags-per-group case went 25 s → merge count 5. A
          // distinct-heavy input would still fold sequentially; the
          // scale path there is a TypedImperativeAggregate over a key
          // map (the tdigest/count-min pattern) — not needed until a
          // workload actually has per-group distinct-bag cardinality.
          aggregate(
            array_distinct(sort_array(collect_list(args.head(df)))),
            lit("{}"),
            (acc, x) => GraftColumnBridge.column(graft.functions.BagMerge(
              GraftColumnBridge.catalystExpression(acc),
              GraftColumnBridge.catalystExpression(x))))
        }
        // conditional form of make_bag: same deterministic fold, only
        // rows passing the predicate contribute
        case "make_bag_if" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          aggregate(
            array_distinct(sort_array(collect_list(
              when(args(1)(df), args(0)(df))))),
            lit("{}"),
            (acc, x) => GraftColumnBridge.column(graft.functions.BagMerge(
              GraftColumnBridge.catalystExpression(acc),
              GraftColumnBridge.catalystExpression(x))))
        }
        // buildschema(d): the merged value-schema of the group's dynamic
        // values — per-row schemas (functions/SchemaOps.dynamicSchema)
        // folded with the conflict-aware merge (type disagreements
        // surface as "conflict", never silently coerce — the evaluate
        // schema_merge stance). The fold runs over the DISTINCT sorted
        // per-row schemas; the merge is commutative/associative, so the
        // result is partition-insensitive.
        case "buildschema" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          aggregate(
            array_distinct(sort_array(collect_list(
              GraftColumnBridge.column(graft.functions.DynamicSchema(
                GraftColumnBridge.catalystExpression(args.head(df).cast("string"))))))),
            lit(graft.functions.SchemaOps.Empty),
            (acc, x) => GraftColumnBridge.column(graft.functions.SchemaMergeBags(
              GraftColumnBridge.catalystExpression(acc),
              GraftColumnBridge.catalystExpression(x))))
        }
        // Kusto take_any/any: "an arbitrary row's value". Arbitrary is
        // non-deterministic across engines and re-runs, so this engine
        // pins it to MIN — indistinguishable in take_any's intended use
        // (values constant per group) and deterministic everywhere else.
        case "take_any" | "any" => arity(1); df => min(args.head(df))
        // bag_keys over dynamic (JSON text): sorted key array
        case "bag_keys" => arity(1); df => array_sort(json_object_keys(args.head(df)))
        // dynamic_to_json: canonical form — keys sorted recursively
        // (functions/JsonBag.scala); bare scalars serialize as JSON
        case "dynamic_to_json" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.DynamicToJson(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string"))))
        }
        // treepath(bag): all path expressions of the dynamic value
        // (functions/JsonBag.scala pins the documented ['key'] / [0]
        // form, depth-first, first-occurrence dedup)
        case "treepath" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.Treepath(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string"))))
        }
        // series_stats_dynamic(arr): the series_stats tuple as ONE bag —
        // same component definitions as the multi-assign form
        case "series_stats_dynamic" => arity(1); df => {
          val a = args.head(df)
          val sn = size(a).cast("double")
          val av = aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) / sn
          val vr = greatest(lit(0.0),
            aggregate(a, lit(0.0), (acc, x) =>
              acc + (x.cast("double") - av) * (x.cast("double") - av)) / (sn - lit(1.0)))
          to_json(struct(
            array_min(a).cast("double").as("min"),
            (array_position(a, array_min(a)) - 1).cast("long").as("min_idx"),
            array_max(a).cast("double").as("max"),
            (array_position(a, array_max(a)) - 1).cast("long").as("max_idx"),
            av.as("avg"), sqrt(vr).as("stdev"), vr.as("variance")))
        }
        // series_fit_line_dynamic(arr): the fit_line tuple as ONE bag —
        // identical component definitions to the multi-assign form
        case "series_fit_line_dynamic" => arity(1); df => {
          val a = args.head(df)
          when(a.isNull, lit(null).cast("string")).otherwise(
            Kql.packStruct(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesFitLine(
                org.apache.spark.sql.GraftColumnBridge.catalystExpression(
                  transform(a, _.cast("double")))))))
        }
        // series_fit_2lines_dynamic(arr): the fit_2lines tuple plus
        // left/right per-segment line bags (SeriesDecompose.
        // SeriesFit2Lines(dynamic=true) pins the sub-line spec); too-short series
        // (split_idx null) → null bag. The struct binds ONCE through a
        // single-element transform so the O(n²) fit isn't re-evaluated
        // by the null guard.
        case "series_fit_2lines_dynamic" => arity(1); df =>
          element_at(transform(
            array(org.apache.spark.sql.GraftColumnBridge.column(
              graft.functions.SeriesFit2Lines(
                org.apache.spark.sql.GraftColumnBridge.catalystExpression(
                  transform(args.head(df), _.cast("double"))), dynamic = true))),
            f => when(f.getField("split_idx").isNull, lit(null).cast("string"))
              .otherwise(Kql.packStruct(f))), 1)
        // top-level key membership (Kusto bag_has_key also accepts a
        // JSONPath for nested keys; the documented subset here is the
        // top-level form, matching the engine's bag surface)
        case "bag_has_key" => arity(2); df =>
          coalesce(array_contains(json_object_keys(args(0)(df)), args(1)(df)), lit(false))
        // conditional aggregates: aggregate only rows passing the predicate
        case "sumif" => arity(2); df => sum(when(args(1)(df), args(0)(df)))
        case "avgif" => arity(2); df => avg(when(args(1)(df), args(0)(df)))
        case "minif" => arity(2); df => min(when(args(1)(df), args(0)(df)))
        case "maxif" => arity(2); df => max(when(args(1)(df), args(0)(df)))
        case "dcountif" => arity(2); df => countDistinct(when(args(1)(df), args(0)(df)))
        // tdigest()/tdigest_merge()/percentile_tdigest(): Kusto's
        // mergeable-percentile sketch, pinned to a deterministic
        // order-insensitive log-histogram (graft.functions.TdigestAgg
        // Scaladoc has the full spec) — bounded O(kB) state per group,
        // exact bucket-count merge, the 100 TB percentile path.
        case "tdigest" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.TdigestAgg(
            GraftColumnBridge.catalystExpression(args.head(df).cast("double")))
            .toAggregateExpression())
        }
        case "tdigest_merge" | "merge_tdigest" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.TdigestMergeAgg(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")))
            .toAggregateExpression())
        }
        // cm_sketch()/cm_merge(): count-min frequency sketch (pinned
        // spec in graft.functions.CountMinOps — d=4 w=256 xxhash rows,
        // canonical-JSON value, exact elementwise merge; fixed 8 KB
        // state per group at any stream length)
        case "cm_sketch" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CmSketchAgg(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")))
            .toAggregateExpression())
        }
        case "cm_merge" | "merge_cm" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CmMergeAgg(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")))
            .toAggregateExpression())
        }
        // bitwise aggregates (Kusto binary_all_*; long-typed)
        case "binary_all_or" => arity(1); df => bit_or(args.head(df).cast("long"))
        case "binary_all_and" => arity(1); df => bit_and(args.head(df).cast("long"))
        case "binary_all_xor" => arity(1); df => bit_xor(args.head(df).cast("long"))
        // Kusto substring(source, start[, length]) is 0-based; Column.substr is 1-based
        case "substring" =>
          if (args.length < 2 || args.length > 3)
            throw new KqlParseException("substring() expects 2 or 3 arguments")
          if (args.length == 2) df => { val c = args(0)(df); c.substr(args(1)(df) + 1, length(c)) }
          else df => args(0)(df).substr(args(1)(df) + 1, args(2)(df))
        case "replace_string" => arity(3); df => replace(args(0)(df), args(1)(df), args(2)(df))
        // replace_strings(text, lookups, rewrites): each (lookup →
        // rewrite) pair applied IN ORDER (a later lookup sees earlier
        // rewrites — Kusto's documented sequential semantics); length
        // mismatch → null; a null/empty lookup leaves the text unchanged
        // and a null rewrite deletes (empty-string) — the non-error
        // stances of the scalar family.
        case "replace_strings" => arity(3); df => {
          val txt = args(0)(df).cast("string")
          // dynamic IS JSON text in this engine — parse string-typed
          // args to the string array; pass real arrays through
          def arr(b: ColB): Column = {
            val raw = b(df)
            dataTypeOf(df, raw) match {
              case Some(org.apache.spark.sql.types.StringType) =>
                from_json(raw, org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType))
              case _ => raw
            }
          }
          val looks = arr(args(1)); val rews = arr(args(2))
          when(looks.isNull || rews.isNull || size(looks) =!= size(rews),
            lit(null).cast("string"))
            .otherwise(aggregate(
              zip_with(looks, rews, (l, r) =>
                struct(l.cast("string").as("l"), r.cast("string").as("r"))),
              txt,
              (acc, p) =>
                when(p.getField("l").isNull || p.getField("l") === "", acc)
                  .otherwise(replace(acc, p.getField("l"),
                    coalesce(p.getField("r"), lit(""))))))
        }
        // replace_regex(source, pattern, rewrite): replaces ALL matches
        // (Spark's default). Kusto rewrite capture refs are \0..\9; Java
        // replacement syntax is $N — translate at runtime on the rewrite
        // column (literal '$' is escaped FIRST so it can't become an
        // accidental group ref). The translation handles the documented
        // \N form; a Kusto literal-backslash escape (\\) followed by a
        // digit is outside the pinned subset.
        case "replace_regex" => arity(3); df => {
          val rw = regexp_replace(
            regexp_replace(args(2)(df), "\\$", "\\\\\\$"),
            "\\\\([0-9])", "\\$$1")
          regexp_replace(args(0)(df), args(1)(df), rw)
        }
        // countof_regex(source, pattern) ≡ countof(…, kind='regex'):
        // NON-overlapping regex match count (the documented contrast
        // with plain countof). Pattern may be any expression here —
        // regexp_count takes a column.
        case "countof_regex" => arity(2); df =>
          regexp_count(args(0)(df), args(1)(df)).cast("long")
        // ceiling(x): smallest integer ≥ x, result in the INPUT's type
        // family (Kusto: real→real, long→long, decimal→decimal; Spark's
        // ceil collapses double→long, so cast back for real inputs)
        case "ceiling" => arity(1); df => {
          val c = args.head(df)
          dataTypeOf(df, c) match {
            case Some(org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType) =>
              ceil(c).cast("double")
            case _ => ceil(c)
          }
        }
        // to_utf8(s): dynamic array of the string's UTF-8 BYTES
        // (0..255 longs) — UTF8String already stores UTF-8, so this is
        // a flat byte copy in a native codegen'd expression
        case "to_utf8" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.Utf8Bytes(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "reverse" => arity(1); df => reverse(args.head(df))
        // Kusto indexof: 0-based, -1 when absent; the optional start,
        // length (-1 = to the end) and occurrence run in one native walk
        // (null when start < 0 or occurrence < 1)
        case "indexof" =>
          if (args.length < 2 || args.length > 5)
            throw new KqlParseException("indexof() expects 2..5 arguments")
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            def arg(i: Int, default: Int): Column =
              if (args.length > i) args(i)(df).cast("int") else lit(default)
            val in = Seq(args(0)(df).cast("string"), args(1)(df).cast("string"),
              arg(2, 0), arg(3, -1), arg(4, 1)).map(GraftColumnBridge.catalystExpression)
            GraftColumnBridge.column(graft.functions.IndexOfNth(in(0), in(1), in(2), in(3), in(4)))
          }
        case "strrep" => arity(2); df => repeat(args(0)(df), args(1)(df).cast("int"))
        case "array_length" => arity(1); df => size(args.head(df)).cast("long")
        case "base64_encode_tostring" => arity(1); df => base64(args.head(df).cast("binary"))
        case "base64_decode_tostring" => arity(1); df => unbase64(args.head(df)).cast("string")
        // guid ⇄ base64 of the 16 .NET-ordered bytes (doc-vector-pinned
        // byte order; see TextHash.guidToBase64)
        case "base64_encode_fromguid" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.Base64FromGuid(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string"))))
        }
        case "base64_decode_toguid" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.Base64ToGuid(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string"))))
        }
        // new_guid(): one random v4 guid per row (Spark's uuid —
        // nondeterministic by contract, so spec-gated on shape only)
        case "new_guid" => arity(0); _ => org.apache.spark.sql.functions.expr("uuid()")
        // isutf8(s): engine strings are structurally valid UTF-8
        // (UTF8String), as in Kusto — true for any non-null string
        case "isutf8" => arity(1); df => args.head(df).cast("string").isNotNull
        // has_any_index(source, values): 0-based index of the FIRST
        // value that whole-term-matches the source (the `has` stance:
        // case-insensitive word-boundary); -1 when none match or the
        // array is empty/null
        case "has_any_index" => arity(2); df => {
          val src = args(0)(df)
          // dynamic IS JSON text in this engine — parse string-typed
          // args to the string array; pass real arrays through
          val valsRaw = args(1)(df)
          val vals = dataTypeOf(df, valsRaw) match {
            case Some(org.apache.spark.sql.types.StringType) =>
              from_json(valsRaw, org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType))
            case _ => valsRaw
          }
          val indexed = zip_with(vals, sequence(lit(0), greatest(size(vals) - 1, lit(0))),
            (v, i) => struct(i.as("i"), v.as("v")))
          val matched = filter(indexed, s =>
            regexp_like(src, concat(lit("(?i)\\b"),
              regexp_replace(s.getField("v").cast("string"),
                lit("([^a-zA-Z0-9])"), lit("\\\\$1")), lit("\\b"))))
          when(size(vals) <= 0, lit(-1L))
            .otherwise(coalesce(
              try_element_at(matched, lit(1)).getField("i").cast("long"), lit(-1L)))
        }
        // n-ary scalar min/max
        case "min_of" => df => least(args.map(_(df)): _*)
        case "max_of" => df => greatest(args.map(_(df)): _*)
        // array scalars (Kusto names; element math in doubles)
        case "array_sum" => arity(1); df =>
          aggregate(transform(args.head(df), x => x.cast("double")),
            lit(0.0).cast("double"), (s, x) => s + x)
        case "array_avg" => arity(1); df => {
          val a = args.head(df)
          when(size(a) > 0,
            aggregate(transform(a, x => x.cast("double")),
              lit(0.0).cast("double"), (s, x) => s + x) / size(a))
        }
        case "array_min" => arity(1); df => array_min(args.head(df))
        case "array_max" => arity(1); df => array_max(args.head(df))
        case "array_concat" => df => concat(args.map(_(df)): _*)
        case "array_reverse" => arity(1); df => reverse(args.head(df))
        case "array_sort_asc" => arity(1); df => sort_array(args.head(df), asc = true)
        case "array_sort_desc" => arity(1); df => sort_array(args.head(df), asc = false)
        // 0-based first index, -1 when absent (array_position is 1-based/0-absent)
        // array_index_of(arr, v [, start]): 0-based, -1 absent; the
        // optional start searches from that index (slice + re-offset)
        case "array_index_of" =>
          if (args.length < 2 || args.length > 3)
            throw new KqlParseException("array_index_of() expects 2 or 3 arguments")
          if (args.length == 2) df =>
            (array_position(args(0)(df), args(1)(df)) - lit(1L)).cast("long")
          else df => {
            val arr = args(0)(df)
            val st = args(2)(df).cast("int")
            val sub = slice(arr, st + 1, greatest(size(arr) - st, lit(0)))
            val p = array_position(sub, args(1)(df))
            when(st < 0, lit(null).cast("long"))
              .when(p > 0, (p - 1 + st).cast("long")).otherwise(lit(-1L))
          }
        case "arg_max" => arity(2); df => Kql.argMax(args(0)(df), args(1)(df))
        case "arg_min" => arity(2); df => Kql.argMin(args(0)(df), args(1)(df))
        // bitwise family (Kusto binary_*; long-typed as in Kusto)
        case "binary_and" => arity(2); df =>
          args(0)(df).cast("long").bitwiseAND(args(1)(df).cast("long"))
        case "binary_or" => arity(2); df =>
          args(0)(df).cast("long").bitwiseOR(args(1)(df).cast("long"))
        case "binary_xor" => arity(2); df =>
          args(0)(df).cast("long").bitwiseXOR(args(1)(df).cast("long"))
        case "binary_not" => arity(1); df => bitwise_not(args.head(df).cast("long"))
        case "bitset_count_ones" => arity(1); df => bit_count(args.head(df)).cast("long")
        // ---- scalar ring 5: url/hash/array-set family ----
        // Kusto url_encode is form-style ('+' for space); the _component
        // variant is RFC-3986 percent-style — both codegen'd builtins.
        case "url_encode" => arity(1); df => url_encode(args.head(df))
        case "url_encode_component" => arity(1); df =>
          replace(url_encode(args.head(df)), lit("+"), lit("%20"))
        case "url_decode" => arity(1); df => url_decode(args.head(df))
        // percentile_tdigest(sketch, p) — nearest-rank walk over the
        // pinned log-histogram sketch (see TdigestAgg)
        case "cm_estimate" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CmEstimate(
            GraftColumnBridge.catalystExpression(args(0)(df)),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("string"))))
        }
        case "cm_total" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.CmTotal(
            GraftColumnBridge.catalystExpression(args.head(df))))
        }
        case "percentile_tdigest" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PercentileTdigest(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double"))))
        }
        // percentile_array_tdigest(sketch, p1, p2, …) — the array form:
        // one sketch deserialization feeds every requested percentile
        // read (Catalyst dedups the shared child), result is a dynamic
        // array in argument order
        case "percentile_array_tdigest" =>
          if (args.length < 2)
            throw new KqlParseException("percentile_array_tdigest() expects the sketch and at least one percentile")
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            val sk = args(0)(df).cast("string")
            array(args.tail.map(p => GraftColumnBridge.column(graft.functions.PercentileTdigest(
              GraftColumnBridge.catalystExpression(sk),
              GraftColumnBridge.catalystExpression(p(df).cast("double"))))): _*)
          }
        // rank_tdigest(sketch, v) — the ≤-count rank read (long),
        // QuantileSketchOps.rankLe pinned rule
        case "rank_tdigest" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.RankTdigest(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double"))))
        }
        // array_iif(cond, t, f) — element-wise conditional: element i is
        // t[i] when cond[i] casts true, else f[i]; null condition element
        // → null; scalar t/f broadcast; an array branch shorter than the
        // condition yields nulls (try_element_at). Branch types must
        // unify (loud analysis error otherwise — this engine's typed
        // stance on Kusto's dynamic). Codegen'd transform, map-only.
        case "array_iif" | "array_iff" => arity(3); df => {
          val c = args(0)(df)
          def branch(a: Column): Column => Column =
            dataTypeOf(df, a) match {
              case Some(_: org.apache.spark.sql.types.ArrayType) =>
                idx => try_element_at(a, idx + lit(1))
              case _ => _ => a
            }
          val tb = branch(args(1)(df)); val fb = branch(args(2)(df))
          transform(c, (ce, i) =>
            when(ce.isNull, lit(null)).otherwise(
              when(ce.cast("boolean"), tb(i)).otherwise(fb(i))))
        }
        // datetime_utc_to_local / datetime_local_to_utc — IANA zone
        // conversion (Spark's from/to_utc_timestamp carries the tz
        // database; null on unknown zones is Spark's loud-error side —
        // zones are literal in practice)
        case "datetime_utc_to_local" => arity(2); df =>
          from_utc_timestamp(args(0)(df), args(1)(df))
        case "datetime_local_to_utc" => arity(2); df =>
          to_utc_timestamp(args(0)(df), args(1)(df))
        // percentrank_tdigest(sketch, v) — the inverse read: the value's
        // percentage rank (QuantileSketchOps.percentRank pinned rule)
        case "percentrank_tdigest" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.PercentRankTdigest(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double"))))
        }
        // ---- scalar ring 9: geo family + property-bag keys ----
        // geo_distance_2points(lon1, lat1, lon2, lat2) → meters.
        // PINNED to the haversine on the IUGG mean radius 6371009 m
        // (Kusto computes the WGS84 geodesic; the spherical distance
        // deviates < 0.5% — documented determinization, same stance as
        // take_any). All codegen'd trig in the scan projection.
        case "geo_distance_2points" => arity(4); df =>
          haversineM(args(0)(df), args(1)(df), args(2)(df), args(3)(df))
        case "geo_point_in_circle" => arity(5); df =>
          haversineM(args(0)(df), args(1)(df), args(2)(df), args(3)(df)) <= args(4)(df)
        // ---- geo ring 2: GeoJSON shape scalars (see geoShape note) ----
        case "geo_line_length" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoShapeScalar(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")),
            "line_length"))
        }
        // geo_distance_point_to_line(lon, lat, line): min over the
        // LineString's segments of the great-circle point-to-segment
        // distance; malformed shape / out-of-range point → null — the
        // geo family's loudly-null stance. Native codegen'd kernel
        // (functions/GeoPredicates.scala pins the segDistM op-order
        // mirror the q227 oracle restates) — the retired HOF Column
        // fold walked an interpreted expression tree per row.
        case "geo_distance_point_to_line" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoDistancePointToLine(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(2)(df).cast("string"))))
        }
        // geo_closest_point_on_line(lon, lat, line): the point on the
        // LineString nearest the query point — per segment the same
        // case split as geo_distance_point_to_line (the native kernel's
        // segClosest shares segDist's op order, so the two scalars
        // agree exactly about the min distance); first strict min wins.
        case "geo_closest_point_on_line" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoClosestPointOnLine(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(2)(df).cast("string"))))
        }
        // geo_closest_point_on_polygon(lon, lat, polygon): the input
        // point itself when inside (even-odd over all rings — distance
        // 0, the geo_distance_point_to_polygon stance), else the
        // nearest boundary point over every ring's closed traversal.
        case "geo_closest_point_on_polygon" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoClosestPointOnPolygon(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(2)(df).cast("string"))))
        }
        // geo_intersects_2lines / geo_intersects_line_with_polygon /
        // geo_intersects_2polygons: boolean spatial-join predicates,
        // PLANAR lon/lat (the even-odd family's pinned stance — the
        // predicates agree with geo_point_in_polygon about membership);
        // touching counts as intersecting. Containment without edge
        // crossing is caught by the vertex-inside tests. Native
        // kernels: the pair-cross scans are O(n·m) per row — as
        // interpreted HOF folds they dominated q235; as codegen'd
        // static calls they short-circuit on the first hit.
        case "geo_intersects_2lines" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoIntersects2Lines(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("string"))))
        }
        case "geo_intersects_line_with_polygon" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoIntersectsLineWithPolygon(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("string"))))
        }
        case "geo_intersects_2polygons" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoIntersects2Polygons(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("string")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("string"))))
        }
        // geo_line_centroid(line): segment-LENGTH-weighted average of
        // segment midpoints (haversine weights — the engine's pinned
        // length measure; planar lon/lat midpoints, the documented
        // no-antimeridian subset of the geo ring). Zero total length
        // (degenerate line) → the first vertex.
        case "geo_line_centroid" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoShapeCentroid(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")),
            line = true))
        }
        // geo_polygon_centroid(polygon): planar shoelace centroid over
        // lon/lat, SIGNED ring sums so GeoJSON-oriented holes (CW vs
        // the CCW exterior) subtract naturally; Cx = Σ(xᵢ+xᵢ₊₁)·crossᵢ
        // / (3·Σcross). Degenerate zero signed area → null.
        case "geo_polygon_centroid" => arity(1); df => {
          // planar shoelace centroid, SIGNED ring sums so GeoJSON-
          // oriented holes subtract naturally (GeoPredOps pins the spec)
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoShapeCentroid(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")),
            line = false))
        }
        // geo_distance_point_to_polygon(lon, lat, polygon): 0.0 for a
        // point inside (even-odd over all rings — a point in a hole is
        // OUTSIDE and gets its distance to the hole boundary), else the
        // min great-circle point-to-segment distance over every ring.
        // Native kernel (see geo_distance_point_to_line note).
        case "geo_distance_point_to_polygon" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoDistancePointToPolygon(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(2)(df).cast("string"))))
        }
        case "geo_polygon_perimeter" => arity(1); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoShapeScalar(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")),
            "polygon_perimeter"))
        }
        case "geo_polygon_area" => arity(1); df => {
          // exterior − holes = 2·|ring₀| − Σ|ringᵢ| (one pass over rings)
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoShapeScalar(
            GraftColumnBridge.catalystExpression(args.head(df).cast("string")),
            "polygon_area"))
        }
        // Native even-odd kernel (functions/GeoPredicates.scala) — no
        // lon/lat range guard, the scalar tests any finite point.
        case "geo_point_in_polygon" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.GeoPointInPolygon(
            GraftColumnBridge.catalystExpression(args(0)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(1)(df).cast("double")),
            GraftColumnBridge.catalystExpression(args(2)(df).cast("string"))))
        }
        // ---- scalar ring 8: ipv4 / version / url-structure family ----
        // parse_ipv4('a.b.c.d[/p]') → long (big-endian octets), masked
        // to the prefix when '/p' is present; null on malformed input.
        // The whole family is codegen'd string/arithmetic ops — the mask
        // is value − (value mod 2^(32−p)), exact in double up to 2^32,
        // so no column-shift bitwise ops are needed.
        case "parse_ipv4" => arity(1); df => ipv4WithPrefix(args.head(df), lit(32))
        case "ipv4_is_private" => arity(1); df => {
          // RFC1918: 10/8, 172.16/12, 192.168/16
          val v = ipv4WithPrefix(args.head(df), lit(32))
          when(v.isNull, lit(null).cast("boolean")).otherwise(
            (v >= 167772160L && v <= 184549375L) ||
            (v >= 2886729728L && v <= 2887778303L) ||
            (v >= 3232235520L && v <= 3232301055L))
        }
        // has_ipv4 family (security-log scalars): does the TEXT contain
        // a properly-delimited valid IPv4 (equal to / prefixed by the
        // given values)? Lowering: ONE regexp_extract_all of delimited
        // valid-octet candidates (lookaround boundaries — no char
        // consumption, so adjacent IPs all extract), then array
        // membership / prefix lambdas. Map-only, codegen'd.
        case "has_ipv4" | "has_any_ipv4" | "has_ipv4_prefix" | "has_any_ipv4_prefix" =>
          if (args.length < 2)
            throw new KqlParseException(s"$name() expects the source text and at least one value")
          if ((name == "has_ipv4" || name == "has_ipv4_prefix") && args.length != 2)
            throw new KqlParseException(s"$name() expects exactly 2 arguments")
          df => {
            val oct = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
            val cands = regexp_extract_all(args(0)(df),
              lit(s"(?<![0-9A-Za-z.])($oct(?:\\.$oct){3})(?![0-9A-Za-z.])"), lit(1))
            val vals = args.tail.map(_(df))
            if (name.endsWith("_prefix"))
              vals.map(p => exists(cands, c => c.startsWith(p))).reduce(_ || _)
            else
              vals.map(v => array_contains(cands, v)).reduce(_ || _)
          }
        case "ipv4_is_in_range" => arity(2); df =>
          ipv4InRangeCol(args(0)(df), args(1)(df))
        // parse_ipv4_mask(ip, prefix): the address masked to the first
        // `prefix` bits, as a long — the parse_ipv4 arithmetic with an
        // explicit mask; an embedded '/q' suffix composes by the
        // min-prefix rule (the ipv4_is_match stance); prefix outside
        // 1..32 → null (documented range)
        case "parse_ipv4_mask" => arity(2); df => {
          val ip = args(0)(df)
          val p = args(1)(df).cast("int")
          val sfx = when(ip.contains("/"),
            substring_index(ip, "/", -1).cast("int")).otherwise(lit(32))
          when(p >= 1 && p <= 32,
            ipv4WithPrefix(substring_index(ip, "/", 1), least(sfx, p)))
        }
        case "ipv4_compare" => arity(2); df => {
          val a = ipv4WithPrefix(args(0)(df), lit(32))
          val b = ipv4WithPrefix(args(1)(df), lit(32))
          when(a.isNull || b.isNull, lit(null).cast("long"))
            .otherwise(signum(a - b).cast("long"))
        }
        // parse_xml → dynamic (JSON text): the pinned element→bag
        // mapping documented on graft.functions.XmlOps — one native
        // codegen'd expression (JDK DOM, DTD/XXE disabled), null on
        // malformed input; composes with postfix dynamic access.
        case "parse_xml" => arity(1); df =>
          org.apache.spark.sql.GraftColumnBridge.column(
            graft.functions.XmlToJson(
              org.apache.spark.sql.GraftColumnBridge.catalystExpression(args.head(df))))
        // ipv4_netmask_suffix(ip): the /nn prefix length, 32 when the
        // suffix is absent, null when the shape is not IPv4[/nn]
        case "ipv4_netmask_suffix" => arity(1); df => {
          val s = args.head(df)
          // octets bounded 0-255 and suffix 0-32, like Kusto — '300.1.2.3'
          // and '/99' are null, not pass-through
          val oct = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
          val valid = s.rlike(s"^$oct(\\.$oct){3}(/(3[0-2]|[12]?[0-9]))?$$")
          when(valid && s.contains("/"), split(s, "/").getItem(1).cast("long"))
            .when(valid, lit(32L))
        }
        // ---- ipv6 family (canonical-form string algebra; see
        // ipv6Canonical for the pinned subset) ----
        // parse_ipv6 → canonical form string (Kusto returns the
        // canonical textual form; this engine's is zero-padded
        // lowercase, deterministic and ordering-compatible)
        case "parse_ipv6" => arity(1); df => ipv6Canonical(args.head(df))
        case "ipv6_compare" => arity(2); df => {
          // canonical zero-padded hex compares lexicographically ==
          // numerically
          val a = ipv6Canonical(substring_index(args(0)(df), "/", 1))
          val b = ipv6Canonical(substring_index(args(1)(df), "/", 1))
          when(a.isNull || b.isNull, lit(null).cast("long"))
            .otherwise(when(a < b, lit(-1L)).when(a > b, lit(1L)).otherwise(lit(0L)))
        }
        // ipv6_is_in_range(ip, range) ≡ ipv6_is_match(ip, range): the
        // range's /p suffix bounds the compared prefix either way
        case "ipv6_is_match" | "ipv6_is_in_range" =>
          if (name == "ipv6_is_in_range") arity(2)
          else if (args.length < 2 || args.length > 3)
            throw new KqlParseException("ipv6_is_match() expects 2 or 3 arguments")
          df => {
            val pArg = if (args.length == 3) args(2)(df).cast("int") else lit(128)
            ipv6MatchCol(args(0)(df), args(1)(df), pArg)
          }
        // ipv6_is_in_any_range(ip, range1, range2, …): true if the ip
        // prefix-matches ANY range; false if it matches none; null if
        // the ip or every non-matching comparison is malformed (a TRUE
        // match wins over another range's parse failure — the
        // short-circuit Kusto documents)
        case "ipv6_is_in_any_range" | "ipv4_is_in_any_range" =>
          if (args.length < 2)
            throw new KqlParseException(s"$name() expects the address and at least one range")
          df => {
            val per = args.tail.map { rB =>
              if (name == "ipv6_is_in_any_range")
                ipv6MatchCol(args(0)(df), rB(df), lit(128))
              else ipv4InRangeCol(args(0)(df), rB(df))
            }
            val anyTrue = per.map(_ <=> lit(true)).reduce(_ || _)
            val anyNull = per.map(_.isNull).reduce(_ || _)
            when(anyTrue, lit(true))
              .when(anyNull, lit(null).cast("boolean"))
              .otherwise(lit(false))
          }
        case "ipv4_is_match" =>
          if (args.length < 2 || args.length > 3)
            throw new KqlParseException("ipv4_is_match() expects 2 or 3 arguments")
          df => {
            val rawA = args(0)(df); val rawB = args(1)(df)
            def sfx(c: Column) =
              when(c.contains("/"), substring_index(c, "/", -1).cast("int")).otherwise(lit(32))
            val pArg = if (args.length == 3) args(2)(df).cast("int") else lit(32)
            val p = least(sfx(rawA), sfx(rawB), pArg)
            val a = ipv4WithPrefix(substring_index(rawA, "/", 1), p)
            val b = ipv4WithPrefix(substring_index(rawB, "/", 1), p)
            when(a.isNull || b.isNull, lit(null).cast("boolean")).otherwise(a === b)
          }
        // parse_version: up to 4 dot parts, ≤8 digits each, canonical
        // comparable DECIMAL(38,0) = parts zero-padded to 8 digits and
        // concatenated (Kusto's comparable-number contract); null on
        // malformed input. tostring() it for serialization.
        case "parse_version" => arity(1); df => {
          val c = args.head(df)
          val parts = split(c, "\\.")
          val pc = (i: Int) => lpad(coalesce(try_element_at(parts, lit(i)), lit("0")), 8, "0")
          when(c.rlike("^[0-9]{1,8}(\\.[0-9]{1,8}){0,3}$"),
            concat(pc(1), pc(2), pc(3), pc(4)).cast("decimal(38,0)"))
        }
        // parse_url → dynamic (JSON text, the engine's dynamic repr):
        // {Scheme, Host, Port, Path, Username, Password, Query Parameters,
        // Fragment} — empty strings for absent parts, exactly the Kusto
        // shape; query params as a nested object. Composes with postfix
        // .Host/.Path dynamic access.
        case "parse_url" => arity(1); df => {
          val u = args.head(df)
          val userinfo = coalesce(parse_url(u, lit("USERINFO")), lit(""))
          to_json(struct(
            coalesce(parse_url(u, lit("PROTOCOL")), lit("")).as("Scheme"),
            coalesce(parse_url(u, lit("HOST")), lit("")).as("Host"),
            // Hive/Spark parse_url has no PORT part — take it from the
            // authority's trailing :digits instead
            regexp_extract(coalesce(parse_url(u, lit("AUTHORITY")), lit("")),
              ":([0-9]+)$", 1).as("Port"),
            coalesce(parse_url(u, lit("PATH")), lit("")).as("Path"),
            coalesce(substring_index(userinfo, ":", 1), lit("")).as("Username"),
            coalesce(when(userinfo.contains(":"),
              substring_index(userinfo, ":", -1)).otherwise(lit("")), lit("")).as("Password"),
            coalesce(str_to_map(parse_url(u, lit("QUERY")), lit("&"), lit("=")),
              map().cast("map<string,string>")).as("Query Parameters"),
            coalesce(parse_url(u, lit("REF")), lit("")).as("Fragment")))
        }
        // ---- scalar ring 10: timespan/datetime constructors + ipv4
        // formatting + regex/array utilities ----
        // totimespan: timespan-typed (long micros) passthrough, or the
        // Kusto string forms — '[+|-][d.]hh:mm:ss[.fff]' and the literal
        // unit form '<num><unit>' (d/h/m/s/ms). Null on malformed input.
        case "totimespan" => arity(1); df => {
          val c = args.head(df)
          if (dataTypeOf(df, c).contains(org.apache.spark.sql.types.StringType)) {
            val s = trim(c)
            val re = "^([+-]?)(?:(\\d+)\\.)?(\\d{1,2}):(\\d{1,2}):(\\d{1,2})(?:\\.(\\d{1,7}))?$"
            val sign = when(regexp_extract(s, re, 1) === "-", lit(-1L)).otherwise(lit(1L))
            def part(g: Int) =
              coalesce(nullif(regexp_extract(s, re, g), lit("")), lit("0")).cast("long")
            val frac = rpad(coalesce(nullif(regexp_extract(s, re, 6), lit("")), lit("0")),
              6, "0").substr(lit(1), lit(6)).cast("long")
            val reU = "^([+-]?\\d+(?:\\.\\d+)?)(d|h|m|s|ms)$"
            val uv = regexp_extract(s, reU, 1).cast("double")
            val um = when(regexp_extract(s, reU, 2) === "d", lit(86400000000L))
              .when(regexp_extract(s, reU, 2) === "h", lit(3600000000L))
              .when(regexp_extract(s, reU, 2) === "m", lit(60000000L))
              .when(regexp_extract(s, reU, 2) === "s", lit(1000000L))
              .otherwise(lit(1000L))
            when(s.rlike(re),
              sign * ((((part(2) * 24 + part(3)) * 60 + part(4)) * 60 + part(5)) * 1000000L + frac))
              .when(s.rlike(reU), round(uv * um, 0).cast("long"))
          } else c.cast("long")
        }
        // make_timespan(h,m) / (h,m,s) / (d,h,m,s) — seconds may be
        // fractional; result is the engine's timespan repr (long micros)
        case "make_timespan" =>
          if (args.length < 2 || args.length > 4)
            throw new KqlParseException("make_timespan() expects 2..4 arguments")
          df => {
            val cs = args.map(_(df).cast("double"))
            val (d, h, m, sec) = args.length match {
              case 2 => (lit(0.0), cs(0), cs(1), lit(0.0))
              case 3 => (lit(0.0), cs(0), cs(1), cs(2))
              case _ => (cs(0), cs(1), cs(2), cs(3))
            }
            round((((d * 24 + h) * 60 + m) * 60 + sec) * 1e6, 0).cast("long")
          }
        // make_datetime(y,mo,d[,h,mi,s]) — fractional seconds supported
        // (lowered to Spark's make_timestamp; session tz is pinned UTC)
        case "make_datetime" =>
          if (args.length != 3 && args.length != 6)
            throw new KqlParseException("make_datetime() expects 3 or 6 arguments")
          df => {
            val cs = args.map(_(df))
            val full = if (args.length == 6) cs
              else cs ++ Seq(lit(0), lit(0), lit(0.0))
            call_function("make_timestamp",
              full(0).cast("int"), full(1).cast("int"), full(2).cast("int"),
              full(3).cast("int"), full(4).cast("int"), full(5).cast("decimal(16,6)"))
          }
        // unixtime_*_todatetime: epoch scalars (fractional allowed) →
        // datetime at micros resolution (the engine tick)
        case "unixtime_seconds_todatetime" => arity(1); df =>
          timestamp_micros(round(args.head(df).cast("double") * 1e6, 0).cast("long"))
        case "unixtime_milliseconds_todatetime" => arity(1); df =>
          timestamp_micros(round(args.head(df).cast("double") * 1e3, 0).cast("long"))
        case "unixtime_microseconds_todatetime" => arity(1); df =>
          timestamp_micros(round(args.head(df).cast("double"), 0).cast("long"))
        case "unixtime_nanoseconds_todatetime" => arity(1); df =>
          timestamp_micros(floor(args.head(df).cast("double") / 1e3).cast("long"))
        // format_ipv4 / format_ipv4_mask: long or string input, masked to
        // the prefix (default 32); _mask appends '/p'. Mask arithmetic is
        // the same exact-in-double power-of-two trick as parse_ipv4.
        case "format_ipv4" | "format_ipv4_mask" =>
          if (args.isEmpty || args.length > 2)
            throw new KqlParseException(s"format_ipv4() expects 1 or 2 arguments")
          val withMask = name == "format_ipv4_mask"
          df => {
            val c = args.head(df)
            val p = (if (args.length == 2) args(1)(df) else lit(32)).cast("int")
            val v0 =
              if (dataTypeOf(df, c).contains(org.apache.spark.sql.types.StringType))
                ipv4WithPrefix(c, lit(32))
              else c.cast("long")
            val m = pow(lit(2.0), lit(32) - p).cast("long")
            val v = (v0 - pmod(v0, m)).cast("long")
            val dotted = concat_ws(".",
              ((v / 16777216L).cast("long") % 256L).cast("string"),
              ((v / 65536L).cast("long") % 256L).cast("string"),
              ((v / 256L).cast("long") % 256L).cast("string"),
              (v % 256L).cast("string"))
            val out = if (withMask) concat(dotted, lit("/"), p.cast("string")) else dotted
            when(v0.isNull || p < 0 || p > 32, lit(null).cast("string")).otherwise(out)
          }
        // indexof_regex: 0-based offset of the first regex match, -1 absent
        case "indexof_regex" => arity(2); df =>
          (regexp_instr(args(0)(df), args(1)(df)) - lit(1)).cast("long")
        // base64_decode_toarray → array of unsigned byte values (longs),
        // via one hex round-trip (codegen'd; no UDF)
        case "base64_decode_toarray" => arity(1); df => {
          val hexs = hex(unbase64(args.head(df)))
          when(args.head(df).isNull, lit(null).cast("array<long>"))
            .when(length(hexs) === 0, array().cast("array<long>"))
            .otherwise(transform(sequence(lit(0), (length(hexs) / 2 - 1).cast("int")),
              i => conv(hexs.substr(i * 2 + 1, lit(2)), 16, 10).cast("long")))
        }
        // array_iff(condArray, a, b): elementwise conditional; a/b may be
        // arrays (null-padded past their length, Kusto rule) or scalars
        case "array_iff" | "array_case" if args.length == 3 => df => {
          val condA = args(0)(df); val a = args(1)(df); val b = args(2)(df)
          def isArr(c: Column) = dataTypeOf(df, c)
            .exists(_.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          val (aArr, bArr) = (isArr(a), isArr(b))
          transform(condA, (c, i) => {
            val av = if (aArr) try_element_at(a, i + 1) else a
            val bv = if (bArr) try_element_at(b, i + 1) else b
            when(c.cast("boolean"), av).otherwise(bv)
          })
        }
        // ---- property-bag mutators (type-preserving via Jackson —
        // graft.functions.JsonBagOps; never a map<string,string>
        // round-trip that would stringify numbers/nested values) ----
        case "bag_merge" =>
          if (args.length < 2)
            throw new KqlParseException("bag_merge() expects at least 2 bags")
          df => {
            import org.apache.spark.sql.GraftColumnBridge
            args.map(_(df)).reduce((a, b) => GraftColumnBridge.column(
              graft.functions.BagMerge(
                GraftColumnBridge.catalystExpression(a),
                GraftColumnBridge.catalystExpression(b))))
          }
        case "bag_remove_keys" => arity(2); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.BagRemoveKeys(
            GraftColumnBridge.catalystExpression(args(0)(df)),
            GraftColumnBridge.catalystExpression(args(1)(df))))
        }
        case "bag_set_key" => arity(3); df => {
          import org.apache.spark.sql.GraftColumnBridge
          GraftColumnBridge.column(graft.functions.BagSetKey(
            GraftColumnBridge.catalystExpression(args(0)(df)),
            GraftColumnBridge.catalystExpression(args(1)(df)),
            GraftColumnBridge.catalystExpression(args(2)(df))))
        }
        // extract_json(path, doc) — Kusto's JSON-path probe ($.a.b[0]);
        // one get_json_object, same engine as dynamic postfix access.
        // The path must be a literal (get_json_object's contract).
        case "extract_json" | "extractjson" => arity(2); df =>
          org.apache.spark.sql.GraftColumnBridge.catalystExpression(args(0)(df)) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(
                s: org.apache.spark.unsafe.types.UTF8String,
                org.apache.spark.sql.types.StringType) =>
              get_json_object(args(1)(df), s.toString)
            case _ =>
              throw new KqlParseException("extract_json() path must be a string literal")
          }
        // parse_path → dynamic with Kusto's key set {Scheme, RootPath,
        // DirectoryPath, DirectoryName, Filename, Extension,
        // AlternateDataStreamName}: pure regex/substring algebra over
        // both separator styles ('/' and '\'), empty strings for absent
        // parts. Pinned subset: extension excludes the dot; the ADS is
        // the ':stream' tail of the filename (never the drive colon).
        case "parse_path" => arity(1); df => {
          val p0 = args.head(df)
          val scheme = regexp_extract(p0, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
          val p = regexp_replace(p0, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
          val root = regexp_extract(p, "^([a-zA-Z]:[\\\\/]|/|\\\\\\\\)", 1)
          val fileFull = regexp_extract(p, "([^/\\\\]*)$", 1)
          val ads = regexp_extract(fileFull, "^[^:]+:(.+)$", 1)
          val file = when(length(ads) > 0, substring_index(fileFull, ":", 1)).otherwise(fileFull)
          val dirPath = p.substr(lit(1), length(p) - length(fileFull) - 1)
          val dirName = regexp_extract(dirPath, "([^/\\\\]*)$", 1)
          val ext = regexp_extract(file, "\\.([^.]*)$", 1)
          to_json(struct(
            scheme.as("Scheme"),
            coalesce(root, lit("")).as("RootPath"),
            coalesce(dirPath, lit("")).as("DirectoryPath"),
            dirName.as("DirectoryName"),
            file.as("Filename"),
            ext.as("Extension"),
            ads.as("AlternateDataStreamName")))
        }
        // parse_urlquery → dynamic {"Query Parameters": {k: v}} (the
        // Kusto shape); accepts a bare query string or a full URL
        // (everything after the first '?')
        case "parse_urlquery" => arity(1); df => {
          val q0 = args.head(df)
          val q = when(q0.contains("?"), substring_index(q0, "?", -1)).otherwise(q0)
          to_json(struct(
            coalesce(str_to_map(q, lit("&"), lit("=")),
              map().cast("map<string,string>")).as("Query Parameters")))
        }
        // crypto hashes return lowercase hex strings, as in Kusto
        case "hash_sha256" => arity(1); df => sha2(args.head(df).cast("binary"), 256)
        case "hash_sha1" => arity(1); df => sha1(args.head(df).cast("binary"))
        case "hash_md5" => arity(1); df => md5(args.head(df).cast("binary"))
        case "pack_array" => df => array(args.map(_(df)): _*)
        // Kusto zip: pairwise [ [a1,b1], [a2,b2], … ]
        // zip pairs elements positionally; heterogeneous element types
        // coerce to string pairs (dynamic-text stance) instead of the
        // ANSI array() coercion error
        case "zip" => arity(2); df => {
          def elemT(c: Column) = dataTypeOf(df, c) match {
            case Some(org.apache.spark.sql.types.ArrayType(t, _)) => Some(t)
            case _ => None
          }
          val (a, b) = (args(0)(df), args(1)(df))
          (elemT(a), elemT(b)) match {
            case (Some(x), Some(y)) if x == y => zip_with(a, b, (p, q) => array(p, q))
            case _ => zip_with(a, b, (p, q) => array(p.cast("string"), q.cast("string")))
          }
        }
        // set_* return DISTINCT elements; order is unspecified in Kusto,
        // pinned to sorted here (deterministic + oracle-comparable)
        case "set_union" => df => array_sort(args.map(_(df)).reduce(array_union))
        case "set_intersect" => df =>
          array_sort(array_distinct(args.map(_(df)).reduce(array_intersect)))
        case "set_difference" => df =>
          array_sort(array_distinct(args.map(_(df)).reduce(array_except)))
        case "jaccard_index" => arity(2); df => {
          val a = array_distinct(args(0)(df)); val b = array_distinct(args(1)(df))
          val uni = size(array_union(a, b)).cast("double")
          // two empty sets are identical: jaccard = 1 (standard convention)
          when(uni === 0d, lit(1.0))
            .otherwise(size(array_intersect(a, b)).cast("double") / uni)
        }
        // Kusto repeat(value, count) builds an ARRAY (strrep is the string one)
        case "repeat" => arity(2); df => array_repeat(args(0)(df), args(1)(df).cast("int"))
        // array_slice(arr, start, end): 0-based INCLUSIVE end, negatives
        // wrap from the array end (Kusto indexing rules)
        case "array_slice" => arity(3); df => {
          val a = args(0)(df)
          val st = args(1)(df).cast("long"); val en = args(2)(df).cast("long")
          val stN = when(st < 0, st + size(a)).otherwise(st)
          val enN = when(en < 0, en + size(a)).otherwise(en)
          slice(a, (stN + 1).cast("int"),
            greatest(enN - stN + lit(1L), lit(0L)).cast("int"))
        }
        // array_split(arr, i): pair of [0,i) and [i,end) (negative i wraps)
        case "array_split" => arity(2); df => {
          val a = args(0)(df)
          val i0 = args(1)(df).cast("long")
          val ix = when(i0 < 0, i0 + size(a)).otherwise(i0)
          array(slice(a, lit(1), ix.cast("int")),
            slice(a, (ix + 1).cast("int"), greatest(size(a) - ix, lit(0L)).cast("int")))
        }
        case "array_rotate_left" | "array_rotate_right" => arity(2); df => {
          val a = args(0)(df)
          val nRaw = args(1)(df).cast("long")
          val signed = if (name == "array_rotate_right") -nRaw else nRaw
          val m = pmod(signed, size(a).cast("long"))
          when(size(a) === 0, a).otherwise(
            concat(slice(a, (m + 1).cast("int"), (size(a) - m).cast("int")),
              slice(a, lit(1), m.cast("int"))))
        }
        // array_shift_left/right(arr, n [, fill]): dropped positions pad
        // with `fill` (typed nulls when omitted); negative n shifts the
        // other way — Kusto semantics.
        case "array_shift_left" | "array_shift_right" => df => {
          if (args.length < 2 || args.length > 3)
            throw new KqlParseException(s"$name() expects 2 or 3 arguments")
          val a = args(0)(df)
          val nIn = args(1)(df).cast("int")
          val n = if (name == "array_shift_right") -nIn else nIn
          val sz = size(a)
          val k = least(greatest(n, -n), sz) // |n| clamped to size
          // pad(k): k fill values — array_repeat when fill given, else a
          // k-length scaffold of TYPED nulls (slice keeps the element type)
          def pad(kc: Column): Column = args.lift(2) match {
            case Some(f) => array_repeat(f(df), kc)
            case None => transform(slice(a, lit(1), kc), x => when(lit(false), x))
          }
          when(n >= 0, concat(slice(a, (k + 1), sz - k), pad(k)))
            .otherwise(concat(pad(k), slice(a, lit(1), sz - k)))
        }
        // strcat_delim(delim, a, b, …): delimiter-joined concat (the
        // delimiter may itself be a column, so interleave with concat)
        case "strcat_delim" => df => {
          if (args.length < 3) throw new KqlParseException("strcat_delim() needs delim + 2+ values")
          val d = args.head(df)
          val vs = args.tail.map(_(df).cast("string"))
          concat(vs.head +: vs.tail.flatMap(v => Seq(d, v)): _*)
        }
        case other if funcLets.contains(other) =>
          // scalar user function: re-parse the captured body IN PLACE
          // (same parser — outer lets/functions stay visible) with the
          // parameters bound through the elemBinds scope, exactly the
          // mv-apply lambda mechanism. Stack-disciplined pos save makes
          // nested user-function calls compose.
          val (params, bStart, bEnd) = funcLets(other)
          if (args.length != params.length)
            throw new KqlParseException(
              s"$other() expects ${params.length} arguments, got ${args.length}")
          df => {
            val binds = params.zip(args.map(_(df))).toMap
            val saved = pos
            pos = bStart
            try {
              val e = withBinds(binds)(expr())
              if (pos != bEnd)
                throw new KqlParseException(
                  s"$other is a multi-statement lambda — call it with | invoke $other()")
              withBinds(binds)(e(df))
            } finally pos = saved
          }
        case other => throw new KqlParseException(s"unsupported function '$other'")
      }
    }
  }
}
