package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Size-gated driver-local graph kernels: weak components (the q41/q57
  * dedup clusters and KQL `graph-mark-components`), strong components
  * and the KQL shortest-path BFS (optimization rounds 20–21, guide
  * §1.2 — the BPE/LPA pattern applied to the iterative graph
  * operators).
  *
  * The distributed fixpoints (star contraction for weak components,
  * forward-backward anchor peeling for strong) pay several join+agg
  * jobs plus a driver probe per round; on a gated-scale graph the whole
  * edge list fits in one driver round-trip and union-find / Tarjan
  * computes the identical labeling in milliseconds. Both kernels
  * replicate the distributed semantics EXACTLY:
  *
  *  - component id = MINIMUM node id in the component, where "minimum"
  *    is Spark's own ordering for the id type — numeric for integer
  *    ids, UTF-8 byte order ([[Utf8Order]]) for strings (Java String
  *    order diverges on supplementary-plane characters);
  *  - weak: an edge with a null endpoint connects nothing (the
  *    distributed canonicalization's null comparison drops it) but its
  *    endpoints still appear as vertices, each its own component (null
  *    labels itself null) — mirroring explode+distinct over the RAW
  *    pair columns;
  *  - strong: edges with a null endpoint are removed BEFORE the vertex
  *    set is built (the distributed `components` filters first), so an
  *    id appearing only in null-partnered edges is absent from the
  *    result — callers coalesce missing nodes to their own id.
  *
  * Gating: the driver-local path runs only when [[SizeGate.collect]]
  * admits the pair plan (leaf-size estimate plus the shared
  * [[SizeGate.MaxDriverRows]] cap); otherwise the caller's distributed
  * loop runs. Callers that must pin the distributed path (parity specs)
  * pass `local = false` to their own entry point.
  * LocalGraphSpec pins local == distributed on chains, rings, stars,
  * the q223 hub shape, and a supplementary-plane string-order tie.
  */
object LocalGraph {

  /** Spark's sort/min ordering for a supported id type; None on types
    * the kernels don't replay (those stay distributed). */
  private def orderingFor(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
    case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
    case StringType => Some(new Ordering[Any] {
      override def compare(a: Any, b: Any): Int =
        Utf8Order.compare(a.asInstanceOf[String], b.asInstanceOf[String])
    })
    case _ => None
  }

  /** Collects the first two columns of `pairs` under the gate; None →
    * stay distributed. */
  private def collectPairs(pairs: DataFrame): Option[(Array[Row], DataType)] = {
    if (pairs.schema.length < 2) return None
    val dt = pairs.schema(0).dataType
    if (pairs.schema(1).dataType != dt || orderingFor(dt).isEmpty) return None
    SizeGate.collect(pairs, SizeGate.MaxDriverRows).map((_, dt))
  }

  private def result(spark: SparkSession, dt: DataType, rows: Seq[Row],
                     extra: Seq[StructField] = Nil): DataFrame = {
    val schema = StructType(Seq(
      StructField("node", dt, nullable = true),
      StructField("comp", dt, nullable = true)) ++ extra)
    val list = new java.util.ArrayList[Row](rows.length)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  /** Weak connected components over the first two columns of `pairs`;
    * Some((node, comp, size)) covering every endpoint value (incl. null
    * as its own component) with comp = component-min id and size = the
    * component's vertex count, sorted by node in Spark's ASC order
    * (nulls first), or None when the gate says stay distributed. */
  def weakComponents(pairs: DataFrame): Option[DataFrame] =
    collectPairs(pairs).map { case (rows, dt) =>
      val ord = orderingFor(dt).get
      val parent = new java.util.HashMap[Any, Any]()
      val verts = new java.util.LinkedHashSet[Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
        }
        r
      }
      rows.foreach { row =>
        val a = row.get(0); val b = row.get(1)
        verts.add(a); verts.add(b)
        if (a != null && b != null) {
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            // union-by-min keeps every root the minimum of its tree
            if (ord.compare(ra, rb) < 0) parent.put(rb, ra)
            else parent.put(ra, rb)
          }
        }
      }
      val labeled = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
      val sizes = scala.collection.mutable.HashMap.empty[Any, Long].withDefaultValue(0L)
      verts.forEach { v =>
        val c = if (v == null || !parent.containsKey(v)) v else find(v)
        labeled += ((v, c))
        sizes(c) += 1
      }
      val nullsFirst = new Ordering[Any] {
        override def compare(a: Any, b: Any): Int =
          if (a == null) { if (b == null) 0 else -1 }
          else if (b == null) 1
          else ord.compare(a, b)
      }
      val out = labeled.sortBy(_._1)(nullsFirst)
        .map { case (v, c) => Row(v, c, sizes(c)) }
      result(pairs.sparkSession, dt, out.toSeq,
        Seq(StructField("size", LongType, nullable = false)))
    }

  /** Strongly connected components (iterative Tarjan) over the first
    * two columns of `pairs`; Some((node, comp)) covering every endpoint
    * of a fully-non-null edge with comp = component-min id, or None
    * when the gate says stay distributed. */
  def strongComponents(pairs: DataFrame): Option[DataFrame] =
    collectPairs(pairs).map { case (rows, dt) =>
      val ord = orderingFor(dt).get
      // index nodes; adjacency over non-null distinct edges
      // Integer values ON PURPOSE: with Int values, get(missing) would
      // silently unbox null to 0 (the round-20 LPA trap)
      val idOf = new java.util.HashMap[Any, Integer]()
      val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
      def idx(v: Any): Int = {
        val i = idOf.get(v)
        if (i != null) i.intValue()
        else { val n = nodes.length; idOf.put(v, Integer.valueOf(n)); nodes += v; n }
      }
      val edgeSet = new java.util.HashSet[Long]()
      val adjHead = scala.collection.mutable.ArrayBuffer.empty[Int] // per node, -1 = none
      val adjNext = scala.collection.mutable.ArrayBuffer.empty[Int]
      val adjDst = scala.collection.mutable.ArrayBuffer.empty[Int]
      def ensure(n: Int): Unit = while (adjHead.length <= n) adjHead += -1
      rows.foreach { row =>
        val a = row.get(0); val b = row.get(1)
        if (a != null && b != null) {
          val ia = idx(a); val ib = idx(b)
          val key = ia.toLong << 32 | (ib.toLong & 0xffffffffL)
          if (edgeSet.add(key)) {
            ensure(math.max(ia, ib))
            adjDst += ib; adjNext += adjHead(ia); adjHead(ia) = adjDst.length - 1
          }
        }
      }
      ensure(nodes.length - 1)
      val n = nodes.length
      // iterative Tarjan: explicit stack of (node, next-edge cursor)
      val index = Array.fill(n)(-1)
      val low = new Array[Int](n)
      val onStack = new Array[Boolean](n)
      val stack = new java.util.ArrayDeque[Integer]()
      val comp = new Array[Int](n) // SCC id per node
      var nextIndex = 0
      var nextComp = 0
      val sccMembers = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[Int]]
      val callNode = new java.util.ArrayDeque[Integer]()
      val callEdge = new java.util.ArrayDeque[Integer]()
      var root = 0
      while (root < n) {
        if (index(root) == -1) {
          callNode.push(root); callEdge.push(adjHead(root))
          index(root) = nextIndex; low(root) = nextIndex; nextIndex += 1
          stack.push(root); onStack(root) = true
          while (!callNode.isEmpty) {
            val v = callNode.peek().intValue()
            var e = callEdge.pop().intValue()
            var descended = false
            while (e != -1 && !descended) {
              val w = adjDst(e)
              if (index(w) == -1) {
                // descend into w; resume v at e's successor
                callEdge.push(adjNext(e))
                callNode.push(w); callEdge.push(adjHead(w))
                index(w) = nextIndex; low(w) = nextIndex; nextIndex += 1
                stack.push(w); onStack(w) = true
                descended = true
              } else {
                if (onStack(w) && index(w) < low(v)) low(v) = index(w)
                e = adjNext(e)
              }
            }
            if (!descended) {
              // v finished
              callNode.pop()
              if (low(v) == index(v)) {
                val members = scala.collection.mutable.ArrayBuffer.empty[Int]
                var w = -1
                while (w != v) {
                  w = stack.pop().intValue()
                  onStack(w) = false
                  comp(w) = nextComp
                  members += w
                }
                sccMembers += members
                nextComp += 1
              }
              if (!callNode.isEmpty) {
                val parent = callNode.peek().intValue()
                if (low(v) < low(parent)) low(parent) = low(v)
              }
            }
          }
        }
        root += 1
      }
      // comp id = minimum node id of the SCC, in Spark's ordering
      val compMin = sccMembers.map(ms =>
        ms.map(nodes(_)).min(ord)).toArray
      val out = (0 until n).map(i => Row(nodes(i), compMin(comp(i))))
      result(pairs.sparkSession, dt, out)
    }

  /** Hard cap on the local BFS's result rows / settled pairs — past it
    * the kernel aborts and the distributed loop runs (an unfiltered
    * multi-source BFS builds |sources|×|nodes| pairs; the cap bounds
    * the driver before that bites). */
  val MaxLocalBfsRows = 4000000

  /** Spark's CAST(id AS STRING) replayed locally — only for the id
    * types whose cast is the plain JVM toString (the sig elements the
    * distributed loop builds with `.cast("string")`). */
  private def idToString(v: Any): String = v match {
    case null => null
    case s: String => s
    case l: java.lang.Long => l.toString
    case i: java.lang.Integer => i.toString
    case other => other.toString
  }

  /** Spark's ASC array<string> ordering: element-wise, null FIRST,
    * UTF-8 byte order per element, shorter-prefix first. */
  private def sigLess(a: Seq[String], b: Seq[String]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      if (x == null && y != null) return true
      if (x != null && y == null) return false
      if (x != null && y != null) {
        val c = Utf8Order.compare(x, y)
        if (c < 0) return true
        if (c > 0) return false
      }
      i += 1
    }
    a.length < b.length
  }

  /** Size-gated driver-local frontier BFS for the KQL
    * `graph-shortest-paths (a)-[e*1..k]->(b)` lowering (derived-nodes
    * case). Consumes the compiler's edge projection
    * `(__bfs_edge struct, __bfs_in, __bfs_out, __bfs_ekey)` and the
    * pre-filtered source frame `(__bfs_src, __bfs_a)` — both computed
    * DISTRIBUTED (so where-clause source conjuncts and the ekey
    * encoding keep their exact Spark semantics) — and replays the
    * per-level join/dedup/anti-join loop in one driver pass, emitting
    * the same `(__bfs_src, __bfs_a, __bfs_cur, __bfs_path, __bfs_sig)`
    * relation the distributed per-level union produces:
    *
    *  - output=any keeps ONE row per (source, node) pair, minimum
    *    `__bfs_sig` in Spark's array<string> order (sigLess);
    *  - output=all keeps every minimum-length path row;
    *  - a pair settles at the first level that reaches it (later paths
    *    are anti-joined away); null `__bfs_out` rows ride the frontier
    *    exactly like the distributed join output (dropped later by the
    *    caller's endpoint filter).
    *
    * Applies only when the id type's CAST(… AS STRING) is replayed
    * exactly (string/long/int — the sig elements) ; returns None when
    * [[SizeGate]] refuses the edges or past the caps, so the distributed
    * loop runs unchanged. */
  def bfsShortestPaths(rawEdges: DataFrame, inCol: String, outCol: String,
                       sources: DataFrame, maxHops: Int,
                       anyMode: Boolean): Option[(DataFrame, Long)] = {
    // every edge column must have an exactly-replayable CAST(… AS
    // STRING) — the per-hop sort key (ekey) and the sig elements are
    // built from those casts in the distributed loop
    val fields = rawEdges.schema.fields
    if (fields.exists(f => f.dataType match {
      case StringType | LongType | IntegerType => false
      case _ => true
    })) return None
    val iIn = rawEdges.schema.fieldIndex(inCol)
    val iOut = rawEdges.schema.fieldIndex(outCol)
    val idType = fields(iIn).dataType
    // ONE collect of the raw edge columns — the struct, endpoint and
    // ekey columns of the distributed projection are all derived from
    // them, so shipping them once is ~3× less driver transfer
    val edgeRows = SizeGate.collect(rawEdges, SizeGate.MaxDriverRows) match {
      case Some(rs) => rs
      case None => return None
    }
    val srcRows = sources.limit(200001).collect()
    if (srcRows.length > 200000) return None
    // ekey: concat_ws(U+0001, coalesce(cast(col as string), U+0002))
    // replayed exactly (supported column types only, checked above)
    val ekeys = new Array[String](edgeRows.length)
    // adjacency: in-node -> edge row indexes
    val adj = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < edgeRows.length) {
      val r = edgeRows(i)
      val sb = new java.lang.StringBuilder()
      var c = 0
      while (c < fields.length) {
        if (c > 0) sb.append('\u0001')
        val v = r.get(c)
        sb.append(if (v == null) "\u0002" else idToString(v))
        c += 1
      }
      ekeys(i) = sb.toString
      val in = r.get(iIn)
      if (in != null) {
        var b = adj.get(in)
        if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty[Int]; adj.put(in, b) }
        b += i
      }
      i += 1
    }
    final case class PathRow(src: Any, a: Row, cur: Any,
                             path: List[Row], sig: List[String])
    val settled = new java.util.HashSet[(Any, Any)]()
    val out = scala.collection.mutable.ArrayBuffer.empty[PathRow]
    var frontier = scala.collection.mutable.ArrayBuffer.empty[PathRow]
    // level 1: sources ⋈ edges
    def extend(from: Iterable[(Any, Row, Any, List[Row], List[String])]): Option[scala.collection.mutable.ArrayBuffer[PathRow]] = {
      // candidates grouped per (src, cur): any-mode keeps min sig, all
      // keeps everything not yet settled
      val best = new java.util.HashMap[(Any, Any), PathRow]()
      val all = if (anyMode) null else scala.collection.mutable.ArrayBuffer.empty[PathRow]
      for ((src, a, at, path, sig) <- from) {
        val outEdges = adj.get(at)
        if (outEdges != null) outEdges.foreach { ei =>
          val e = edgeRows(ei)
          val cur = e.get(iOut)
          if (!settled.contains((src, cur))) {
            val stepFrom = if (path.isEmpty) idToString(src) else idToString(at)
            val nsig = sig ::: List(stepFrom, idToString(cur), ekeys(ei))
            val cand = PathRow(src, a, cur, path :+ e, nsig)
            if (anyMode) {
              val k = (src, cur)
              val prev = best.get(k)
              if (prev == null || sigLess(nsig, prev.sig)) best.put(k, cand)
            } else all += cand
          }
        }
        if ((if (anyMode) best.size else all.length) + out.length > MaxLocalBfsRows)
          return None
      }
      val fresh = scala.collection.mutable.ArrayBuffer.empty[PathRow]
      if (anyMode) best.values().forEach(fresh += _) else fresh ++= all
      Some(fresh)
    }
    val first = extend(srcRows.iterator.map(r =>
      (r.get(0), r.getStruct(1), r.get(0), List.empty[Row], List.empty[String])).toIterable)
    first match {
      case None => return None
      case Some(f) => frontier = f
    }
    var lvl = 1
    var aborted = false
    while (lvl <= maxHops && frontier.nonEmpty && !aborted) {
      frontier.foreach(p => settled.add((p.src, p.cur)))
      out ++= frontier
      if (lvl < maxHops) {
        extend(frontier.iterator.map(p => (p.src, p.a, p.cur, p.path, p.sig)).toIterable) match {
          case None => aborted = true
          case Some(f) => frontier = f
        }
      }
      lvl += 1
    }
    if (aborted) return None
    val edgeStruct = StructType(fields)
    val aStruct = sources.schema("__bfs_a").dataType
    val schema = StructType(Seq(
      StructField("__bfs_src", idType, nullable = true),
      StructField("__bfs_a", aStruct, nullable = true),
      StructField("__bfs_cur", idType, nullable = true),
      StructField("__bfs_path", ArrayType(edgeStruct), nullable = true),
      StructField("__bfs_sig", ArrayType(StringType), nullable = true)))
    // __bfs_sig is the winnow's internal sort key; the winnow already
    // ran locally and nothing downstream reads the column, so emit
    // null instead of converting ~12 strings per row through the
    // LocalRelation converters
    val list = new java.util.ArrayList[Row](out.length)
    out.foreach(p => list.add(Row(p.src, p.a, p.cur, p.path, null)))
    Some((rawEdges.sparkSession.createDataFrame(list, schema), out.length.toLong))
  }
}
