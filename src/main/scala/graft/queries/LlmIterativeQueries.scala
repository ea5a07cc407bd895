package graft.queries

import graft.Tables
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative / numeric family: PageRank, label propagation, k-means
  * + IVF training loops, PCA power iteration, quality-classifier
  * gradient descent, sequential pattern mining.
  *
  * Pure code motion from the original single-file LlmQueries (round-14
  * maintainability split); wiring + oracle maps stay in [[LlmQueries]].
  */
private[queries] trait LlmIterativeQueries extends LlmShared {

  /** q195 — sequential pattern mining (PrefixSpan-restricted): support
    * of every distinct-type length-2 and length-3 ordered subsequence
    * of each user's event stream — the funnel-DISCOVERY op (q84/q166
    * measure funnels you already know; this finds which orderings are
    * frequent enough to be funnels). Subsequence existence uses the
    * standard greedy matching: first a, earliest b after it, any c
    * after that — correct for existence and purely relational, so the
    * same SQL runs on both engines.
    *
    * Scale shape: per-user first/last-occurrence tables are one hash
    * agg; the candidate joins are USER-KEYED equi-joins whose per-user
    * fan-out is bounded by the distinct-type alphabet (|T|² / |T|³ per
    * user with |T| small and fixed) — never by the event count; support
    * ≥ 8 prunes the tail at the end. No per-user arrays ever ship. */
  private[queries] lazy val seqMineSql = """
    WITH e AS (SELECT user_id, event_type AS t,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events),
    fo AS (SELECT user_id, t, min(rn) AS fr, max(rn) AS xr FROM e GROUP BY user_id, t),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2, count(1) AS support
      FROM fo a JOIN fo b ON a.user_id = b.user_id AND a.t != b.t AND a.fr < b.xr
      GROUP BY a.t, b.t),
    tb AS (SELECT a.user_id, a.t AS t1, b.t AS t2, min(b.rn) AS rb
           FROM fo a JOIN e b ON a.user_id = b.user_id AND b.t != a.t AND b.rn > a.fr
           GROUP BY a.user_id, a.t, b.t),
    triples AS (
      SELECT tb.t1, tb.t2, c.t AS t3, count(1) AS support
      FROM tb JOIN fo c ON c.user_id = tb.user_id AND c.t != tb.t1 AND c.t != tb.t2
                        AND c.xr > tb.rb
      GROUP BY tb.t1, tb.t2, c.t)
    SELECT kind, seq, support FROM (
      SELECT 'pair' AS kind, concat(t1, '>', t2) AS seq, support FROM pairs
      UNION ALL
      SELECT 'triple', concat(t1, '>', t2, '>', t3), support FROM triples)
    WHERE support >= 8
    ORDER BY kind, support DESC, seq"""

  private[queries] lazy val seqMineOracle = """
    WITH e AS (SELECT user_id, event_type AS t,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events),
    fo AS (SELECT user_id, t, min(rn) AS fr, max(rn) AS xr FROM e GROUP BY user_id, t),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2, CAST(count(1) AS BIGINT) AS support
      FROM fo a JOIN fo b ON a.user_id = b.user_id AND a.t <> b.t AND a.fr < b.xr
      GROUP BY a.t, b.t),
    tb AS (SELECT a.user_id, a.t AS t1, b.t AS t2, min(b.rn) AS rb
           FROM fo a JOIN e b ON a.user_id = b.user_id AND b.t <> a.t AND b.rn > a.fr
           GROUP BY a.user_id, a.t, b.t),
    triples AS (
      SELECT tb.t1, tb.t2, c.t AS t3, CAST(count(1) AS BIGINT) AS support
      FROM tb JOIN fo c ON c.user_id = tb.user_id AND c.t <> tb.t1 AND c.t <> tb.t2
                        AND c.xr > tb.rb
      GROUP BY tb.t1, tb.t2, c.t)
    SELECT kind, seq, support FROM (
      SELECT 'pair' AS kind, t1 || '>' || t2 AS seq, support FROM pairs
      UNION ALL
      SELECT 'triple', t1 || '>' || t2 || '>' || t3, support FROM triples)
    WHERE support >= 8
    ORDER BY kind, support DESC, seq"""

  /** Per-label centroids — the k-means/IVF TRAINING step (q38 consumes a
    * codebook; this computes one): element-wise mean of the embedding
    * vectors per label. Physical shape at 100 TB: posexplode to
    * (label, pos, v) then ONE partial/final hash aggregate on
    * (label, pos) — means accumulate map-side, no vector ever
    * collect_list'd, centroid count × dim rows come back. */
  private[queries] lazy val centroidsSql = """
    SELECT label, pos, round(avg(cast(v AS double)), 6) AS mean_v
    FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v
    GROUP BY label, pos ORDER BY label, pos"""

  private[queries] lazy val centroidsOracle = """
    SELECT label, i::INT AS pos, round(avg(embedding[i+1]::DOUBLE), 6) AS mean_v
    FROM embeddings, unnest(range(len(embedding))) AS t(i)
    GROUP BY label, i ORDER BY label, pos"""

  /** k-means E-step + evaluation — assign every vector to its nearest
    * q60 centroid (squared L2) and report the label-vs-assigned
    * confusion. Determinism across engines: centroids are ROUNDED to 6dp
    * before distances (both engines see identical codebooks), and the
    * distance is an explicit left fold over zip_with — fixed IEEE
    * order, the q25 technique. Physical shape at 100 TB: the codebook is
    * k×dim values cross-joined (broadcast) against the vectors, argmin
    * via min_by with a (distance, label) tie-break — one pass, one
    * partial/final confusion aggregate. */
  private[queries] lazy val kmeansAssignSql = """
    WITH cent_rows AS (
      SELECT label AS c_label, pos, round(avg(cast(v AS double)), 6) AS mean_v
      FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v
      GROUP BY label, pos),
    cents AS (
      SELECT c_label,
             transform(sort_array(collect_list(struct(pos, mean_v))), s -> s.mean_v) AS cvec
      FROM cent_rows GROUP BY c_label),
    dists AS (
      SELECT e.vec_id, e.label, c.c_label,
             l2sq_d(transform(e.embedding, x -> cast(x AS double)), c.cvec) AS d2
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      SELECT vec_id, label, min_by(c_label, struct(d2, c_label)) AS assigned
      FROM dists GROUP BY vec_id, label)
    SELECT label, assigned, count(1) AS n
    FROM assign GROUP BY label, assigned ORDER BY label, assigned"""

  private[queries] lazy val kmeansAssignOracle = """
    WITH cent_rows AS (
      SELECT label AS c_label, i AS pos, round(avg(embedding[i+1]::DOUBLE), 6) AS mean_v
      FROM embeddings, unnest(range(len(embedding))) AS t(i)
      GROUP BY label, i),
    cents AS (
      SELECT c_label, list(mean_v ORDER BY pos) AS cvec
      FROM cent_rows GROUP BY c_label),
    dists AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_reduce(list_transform(range(len(c.cvec)),
                 i -> (e.embedding[i+1]::DOUBLE - c.cvec[i+1]) * (e.embedding[i+1]::DOUBLE - c.cvec[i+1])),
               (s, x) -> s + x) AS d2
      FROM embeddings e CROSS JOIN cents c),
    assign AS (
      -- DuckDB arg_min has no struct key; a ranked window gives the same
      -- deterministic (d2, c_label) argmin
      SELECT vec_id, label, c_label AS assigned
      FROM (SELECT vec_id, label, c_label,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
            FROM dists)
      WHERE rn = 1)
    SELECT label, assigned, count(1) AS n
    FROM assign GROUP BY label, assigned ORDER BY label, assigned"""

  /** Iterated k-means TRAINING — the full Lloyd's loop over q60's M-step
    * and q61's E-step, run by [[graft.ops.KMeans]] as one Spark query per
    * round: the nearest centroid is a map-side column against the
    * codebook literal, and one (cluster, pos) aggregate gives both the
    * M-step means and the convergence checksum (assignment count +
    * bit_xor(xxhash64)); only k×dim rows reach the driver, and the
    * trained codebook comes back as a local relation. Fixed at 2
    * iterations with the deterministic `vec_id < 8` init so the DuckDB
    * oracle can unroll the same two E/M rounds as CTEs and hash-match
    * exactly (6dp-rounded centroids, sequential IEEE folds, (d2, cluster)
    * tie-breaks). */
  private[queries] def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val s2 = embs(s, dir)
    val emb = s2.sql(
      "SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS e FROM embeddings")
    val (cents, _) = graft.ops.KMeans.train(s2, emb, k = 8, maxIter = 2)
    cents.orderBy("cluster", "pos")
  }

  private[queries] lazy val kmeansTrainOracle = """
    WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    init AS (SELECT vec_id AS cluster, e AS cvec FROM emb WHERE vec_id < 8),
    d1 AS (SELECT emb.vec_id, emb.e, c.cluster,
                  list_reduce(list_transform(range(64),
                      i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                    (s, x) -> s + x) AS d2
           FROM emb CROSS JOIN init c),
    a1 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d1) WHERE rn = 1),
    c1 AS (SELECT assigned AS cluster, i AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a1, unnest(range(64)) AS t(i)
           GROUP BY assigned, i),
    c1v AS (SELECT cluster, list(mean_v ORDER BY pos) AS cvec FROM c1 GROUP BY cluster),
    d2s AS (SELECT emb.vec_id, emb.e, c.cluster,
                   list_reduce(list_transform(range(64),
                       i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                     (s, x) -> s + x) AS d2
            FROM emb CROSS JOIN c1v c),
    a2 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d2s) WHERE rn = 1),
    c2 AS (SELECT assigned AS cluster, i::INT AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a2, unnest(range(64)) AS t(i)
           GROUP BY assigned, i)
    SELECT cluster, pos, mean_v FROM c2 ORDER BY cluster, pos"""

  /** IVF ANN over the TRAINED q60 codebook — train → index → probe →
    * search end-to-end (q38 uses a deterministic sampled codebook; this
    * uses the learned centroids, the real IVF deployment shape).
    * Vectors index into their nearest-centroid cell (q61's assignment),
    * queries probe the nprobe=2 nearest cells by centroid distance, and
    * exact cosine runs only inside probed cells. Same determinism rules
    * as q60/q61: 6dp-rounded centroids, fixed-order folds, (value, id)
    * tie-breaks. Scale shape: codebook broadcast twice (assignment +
    * probe), search joins on the cell key — never all-pairs. */
  private[queries] lazy val ivfTrainedSql = """
    WITH cent_rows AS (
      SELECT label AS c_label, pos, round(avg(cast(v AS double)), 6) AS mean_v
      FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v
      GROUP BY label, pos),
    cents AS (
      SELECT c_label,
             transform(sort_array(collect_list(struct(pos, mean_v))), s -> s.mean_v) AS cvec
      FROM cent_rows GROUP BY c_label),
    vn AS (
      SELECT vec_id, e, sqrt(dot_d(e, e)) AS nrm
      FROM (SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS e FROM embeddings)),
    cdist AS (
      SELECT /*+ BROADCAST(c) */ vn.vec_id, vn.e, vn.nrm, c.c_label,
             l2sq_d(vn.e, c.cvec) AS d2
      FROM vn CROSS JOIN cents c),
    cells AS (
      SELECT vec_id, w.e AS e, w.nrm AS nrm, w.cell AS cell FROM (
        SELECT vec_id,
               min_by(named_struct('e', e, 'nrm', nrm, 'cell', c_label),
                      named_struct('d', d2, 'c', c_label)) AS w
        FROM cdist GROUP BY vec_id)),
    qprobe AS (
      SELECT vec_id AS qid, c_label AS cell FROM (
        SELECT vec_id, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
        FROM cdist WHERE vec_id % 100 = 0)
      WHERE rk <= 2),
    qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM vn WHERE vec_id % 100 = 0),
    sims AS (
      SELECT /*+ BROADCAST(qp, qv) */ qp.qid, c.vec_id,
             dot_d(qv.qe, c.e) / (qv.qnrm * c.nrm) AS sim
      FROM qprobe qp JOIN cells c ON c.cell = qp.cell JOIN qv ON qv.qid = qp.qid
      WHERE c.vec_id <> qp.qid),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
    SELECT qid, vec_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""

  private[queries] lazy val ivfTrainedOracle = """
    WITH cent_rows AS (
      SELECT label AS c_label, i AS pos, round(avg(embedding[i+1]::DOUBLE), 6) AS mean_v
      FROM embeddings, unnest(range(len(embedding))) AS t(i)
      GROUP BY label, i),
    cents AS (
      SELECT c_label, list(mean_v ORDER BY pos) AS cvec
      FROM cent_rows GROUP BY c_label),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    vn AS (SELECT vec_id, e,
                  sqrt(list_reduce(list_transform(e, x -> x * x), (s, x) -> s + x)) AS nrm
           FROM v),
    cdist AS (
      SELECT vn.vec_id, vn.e, vn.nrm, c.c_label,
             list_reduce(list_transform(range(len(c.cvec)),
                 i -> (vn.e[i+1] - c.cvec[i+1]) * (vn.e[i+1] - c.cvec[i+1])),
               (s, x) -> s + x) AS d2
      FROM vn CROSS JOIN cents c),
    cells AS (
      SELECT vec_id, e, nrm, c_label AS cell FROM (
        SELECT vec_id, e, nrm, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
        FROM cdist) WHERE rk = 1),
    qprobe AS (
      SELECT vec_id AS qid, c_label AS cell FROM (
        SELECT vec_id, c_label,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk
        FROM cdist WHERE vec_id % 100 = 0)
      WHERE rk <= 2),
    qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM vn WHERE vec_id % 100 = 0),
    sims AS (
      SELECT qp.qid, c.vec_id,
             list_reduce(list_transform(range(len(c.e)), i -> qv.qe[i+1] * c.e[i+1]),
               (s, x) -> s + x) / (qv.qnrm * c.nrm) AS sim
      FROM qprobe qp JOIN cells c ON c.cell = qp.cell JOIN qv ON qv.qid = qp.qid
      WHERE c.vec_id <> qp.qid),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
    SELECT qid, vec_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""

  /** Converged-IVF end-to-end (q65): [[graft.ops.KMeans]] TRAINS the
    * codebook (k=8, maxIter=4), then the q62 IVF index/probe/search runs
    * over the TRAINED centroids — the full train → index → probe →
    * search deployment path with no label-derived codebook anywhere.
    * Oracle parity with early stop: the DuckDB oracle unrolls exactly 4
    * E/M rounds; if the engine converges at round r < 4 the remaining
    * oracle rounds are a fixpoint (a repeated assignment regenerates
    * identical 6dp-rounded centroids), and if it doesn't converge both
    * sides run exactly 4 M-steps — equal either way (KMeansSpec pins the
    * fixpoint property). Scale shape: identical to q62 — codebook
    * broadcast twice (cell assignment + probe), search joins on the cell
    * key, never all-pairs — plus the q64 training loop up front. The
    * loop runs while this DataFrame is built (one set-up job that reads
    * the vectors, then one query per round) and leaves the codebook as a
    * local relation, so the search plan scans no training state. */
  private[queries] def ivfConverged(s: SparkSession, dir: String): DataFrame = {
    val s2 = embs(s, dir)
    val emb = s2.sql(
      "SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS e FROM embeddings")
    val (codebook, _) = graft.ops.KMeans.trainCodebook(s2, emb, k = 8, maxIter = 4)
    codebook.createOrReplaceTempView("trained_cents")
    s2.sql(ivfConvergedSearchSql)
  }

  private[queries] lazy val ivfConvergedSearchSql = """
    WITH vn AS (
      SELECT vec_id, e, sqrt(dot_d(e, e)) AS nrm
      FROM (SELECT vec_id, transform(embedding, x -> cast(x AS double)) AS e FROM embeddings)),
    cdist AS (
      SELECT /*+ BROADCAST(c) */ vn.vec_id, vn.e, vn.nrm, c.cluster,
             l2sq_d(vn.e, c.cvec) AS d2
      FROM vn CROSS JOIN trained_cents c),
    cells AS (
      SELECT vec_id, w.e AS e, w.nrm AS nrm, w.cell AS cell FROM (
        SELECT vec_id,
               min_by(named_struct('e', e, 'nrm', nrm, 'cell', cluster),
                      named_struct('d', d2, 'c', cluster)) AS w
        FROM cdist GROUP BY vec_id)),
    qprobe AS (
      SELECT vec_id AS qid, cluster AS cell FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        FROM cdist WHERE vec_id % 100 = 0)
      WHERE rk <= 2),
    qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM vn WHERE vec_id % 100 = 0),
    sims AS (
      SELECT /*+ BROADCAST(qp, qv) */ qp.qid, c.vec_id,
             dot_d(qv.qe, c.e) / (qv.qnrm * c.nrm) AS sim
      FROM qprobe qp JOIN cells c ON c.cell = qp.cell JOIN qv ON qv.qid = qp.qid
      WHERE c.vec_id <> qp.qid),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
    SELECT qid, vec_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""

  /** q64's 2-round unroll extended to 4 rounds, feeding the q62 search
    * CTE chain — entirely mechanical, as promised. */
  private[queries] lazy val ivfConvergedOracle = """
    WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e FROM embeddings),
    init AS (SELECT vec_id AS cluster, e AS cvec FROM emb WHERE vec_id < 8),
    d1 AS (SELECT emb.vec_id, emb.e, c.cluster,
                  list_reduce(list_transform(range(64),
                      i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                    (s, x) -> s + x) AS d2
           FROM emb CROSS JOIN init c),
    a1 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d1) WHERE rn = 1),
    c1 AS (SELECT assigned AS cluster, i AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a1, unnest(range(64)) AS t(i) GROUP BY assigned, i),
    c1v AS (SELECT cluster, list(mean_v ORDER BY pos) AS cvec FROM c1 GROUP BY cluster),
    d2s AS (SELECT emb.vec_id, emb.e, c.cluster,
                   list_reduce(list_transform(range(64),
                       i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                     (s, x) -> s + x) AS d2
            FROM emb CROSS JOIN c1v c),
    a2 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d2s) WHERE rn = 1),
    c2 AS (SELECT assigned AS cluster, i AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a2, unnest(range(64)) AS t(i) GROUP BY assigned, i),
    c2v AS (SELECT cluster, list(mean_v ORDER BY pos) AS cvec FROM c2 GROUP BY cluster),
    d3s AS (SELECT emb.vec_id, emb.e, c.cluster,
                   list_reduce(list_transform(range(64),
                       i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                     (s, x) -> s + x) AS d2
            FROM emb CROSS JOIN c2v c),
    a3 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d3s) WHERE rn = 1),
    c3 AS (SELECT assigned AS cluster, i AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a3, unnest(range(64)) AS t(i) GROUP BY assigned, i),
    c3v AS (SELECT cluster, list(mean_v ORDER BY pos) AS cvec FROM c3 GROUP BY cluster),
    d4s AS (SELECT emb.vec_id, emb.e, c.cluster,
                   list_reduce(list_transform(range(64),
                       i -> (emb.e[i+1] - c.cvec[i+1]) * (emb.e[i+1] - c.cvec[i+1])),
                     (s, x) -> s + x) AS d2
            FROM emb CROSS JOIN c3v c),
    a4 AS (SELECT vec_id, e, cluster AS assigned FROM
             (SELECT vec_id, e, cluster,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
              FROM d4s) WHERE rn = 1),
    c4 AS (SELECT assigned AS cluster, i AS pos, round(avg(e[i+1]), 6) AS mean_v
           FROM a4, unnest(range(64)) AS t(i) GROUP BY assigned, i),
    cents AS (SELECT cluster, list(mean_v ORDER BY pos) AS cvec FROM c4 GROUP BY cluster),
    vn AS (SELECT vec_id, e,
                  sqrt(list_reduce(list_transform(e, x -> x * x), (s, x) -> s + x)) AS nrm
           FROM emb),
    cdist AS (
      SELECT vn.vec_id, vn.e, vn.nrm, c.cluster,
             list_reduce(list_transform(range(len(c.cvec)),
                 i -> (vn.e[i+1] - c.cvec[i+1]) * (vn.e[i+1] - c.cvec[i+1])),
               (s, x) -> s + x) AS d2
      FROM vn CROSS JOIN cents c),
    cells AS (
      SELECT vec_id, e, nrm, cluster AS cell FROM (
        SELECT vec_id, e, nrm, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        FROM cdist) WHERE rk = 1),
    qprobe AS (
      SELECT vec_id AS qid, cluster AS cell FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
        FROM cdist WHERE vec_id % 100 = 0)
      WHERE rk <= 2),
    qv AS (SELECT vec_id AS qid, e AS qe, nrm AS qnrm FROM vn WHERE vec_id % 100 = 0),
    sims AS (
      SELECT qp.qid, c.vec_id,
             list_reduce(list_transform(range(len(c.e)), i -> qv.qe[i+1] * c.e[i+1]),
               (s, x) -> s + x) / (qv.qnrm * c.nrm) AS sim
      FROM qprobe qp JOIN cells c ON c.cell = qp.cell JOIN qv ON qv.qid = qp.qid
      WHERE c.vec_id <> qp.qid),
    ranked AS (
      SELECT qid, vec_id, sim,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
      FROM sims)
    SELECT qid, vec_id, round(sim, 6) AS sim, rank
    FROM ranked WHERE rank <= 3 ORDER BY qid, rank"""

  /** q199 — semi-supervised label propagation (Zhu & Ghahramani 2002 /
    * Raghavan 2007 LPA) over the order–part bipartite graph: seed part
    * nodes carry a clamped label, every node iteratively adopts its
    * neighbors' MAJORITY label (ties → min label, pinned), 3 rounds.
    * The label-spread counterpart of the other iterated graph ops
    * (q41 CC, q111 PageRank, q146 SSSP) — this one moves CATEGORICAL
    * state, the primitive behind graph-based corpus labeling (spread
    * topic/quality labels from a hand-labeled seed set over a
    * doc-similarity graph).
    *
    * Scale shape: per round ONE edges⋈labels equi-join + one
    * (node, label) hash agg + one argmax (max_by struct — no window
    * over the full message relation) + one node-keyed update join;
    * labels stay nodes-sized; localCheckpoint per round keeps the plan
    * flat (the q64/q111 loop pattern). Nothing driver-side but the
    * loop counter. */
  private[queries] def labelPropQuery(s: SparkSession, dir: String): DataFrame = {
    // Size-gated driver-local fast path (optimization round 20, guide
    // §1.2): LPA state is INTEGER (labels, counts, min tie-breaks — no
    // float order anywhere), so a driver-local 3-round propagation over
    // the collected distinct edge list is bit-identical to the
    // distributed loop, which pays per-round join+agg jobs the
    // bipartite graph doesn't need at gated scale. The SizeGate errs
    // LARGE on unknown stats (100 TB keeps the distributed loop) and its
    // row cap confirms before anything is collected.
    // LabelPropagationParitySpec pins local == distributed on sf0.001;
    // q199 stays DuckDB-oracle hash-gated.
    val pairs = Tables.lineitem(s, dir)
      .select((col("l_orderkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    graft.ops.SizeGate.collect(pairs, graft.ops.SizeGate.MaxDriverRows) match {
      case Some(rows) => lpaLocal(s, rows.map(r => (r.getLong(0), r.getLong(1))))
      case None => labelPropDistributed(s, dir)
    }
  }

  /** Driver-local LPA — the exact distributed semantics on the collected
    * distinct (order, part) edge list: seeds clamp, messages count each
    * labeled neighbor once per edge (both directions), majority =
    * max (count, -label), non-clamped nodes coalesce to their old
    * label, 3 rounds, then the label histogram. */
  private[queries] def lpaLocal(s: SparkSession, pairs: Array[(Long, Long)]): DataFrame = {
    val nodes = new java.util.HashSet[Long]()
    pairs.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    // seeds: part nodes (odd ids) whose part key is % 17 == 0.
    // Values are java.lang.Long ON PURPOSE: with scala Long values,
    // get(missing) silently unboxes null to 0 — every unlabeled node
    // would broadcast label 0 (caught by LabelPropagationParitySpec).
    val labels = new java.util.HashMap[Long, java.lang.Long]()
    val clamped = new java.util.HashSet[Long]()
    nodes.forEach { n =>
      if (n % 2 == 1 && ((n - 1) / 2) % 17 == 0) {
        labels.put(n, java.lang.Long.valueOf(((n - 1) / 2) % 4))
        clamped.add(n)
      }
    }
    for (_ <- 1 to 3) {
      // counts[(dst, lab)] over BOTH edge directions from labeled nodes
      val counts = new java.util.HashMap[(Long, Long), Long]()
      def msg(src: Long, dst: Long): Unit = {
        val lab = labels.get(src)
        if (lab != null) counts.merge((dst, lab.longValue()), 1L, (a, b) => a + b)
      }
      pairs.foreach { case (a, b) => msg(a, b); msg(b, a) }
      // majority per node: max count, tie -> min label
      val maj = new java.util.HashMap[Long, (Long, Long)]() // node -> (label, count)
      counts.forEach { (k, c) =>
        val (node, lab) = k
        val cur = maj.get(node)
        if (cur == null || c > cur._2 || (c == cur._2 && lab < cur._1))
          maj.put(node, (lab, c))
      }
      maj.forEach { (node, lc) =>
        if (!clamped.contains(node)) labels.put(node, java.lang.Long.valueOf(lc._1))
      }
    }
    // label histogram: null label -> -1
    val agg = new java.util.TreeMap[Long, (Long, Long, Long)]()
    nodes.forEach { n =>
      val l0 = labels.get(n)
      val lab = if (l0 != null) l0.longValue() else -1L
      val (c, p, o) = Option(agg.get(lab)).getOrElse((0L, 0L, 0L))
      agg.put(lab, (c + 1, p + (if (n % 2 == 1) 1L else 0L), o + (if (n % 2 == 0) 1L else 0L)))
    }
    import s.implicits._
    import scala.jdk.CollectionConverters._
    agg.entrySet().asScala.toSeq
      .map(e => (e.getKey.longValue(), e.getValue._1, e.getValue._2, e.getValue._3))
      .toDF("label", "n_nodes", "n_parts", "n_orders")
  }

  /** The distributed LPA loop — the 100 TB path (and the reference
    * semantics the local path is pinned against). */
  private[queries] def labelPropDistributed(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // node ids are LONGS inside the loop (orders even, parts odd — the
    // q111 discipline): every per-round join/agg shuffles 8-byte keys
    // instead of prefixed strings; the output only needs the part/order
    // SPLIT, which the id parity still carries
    val e0 = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst")).distinct()
    // LAZY localCheckpoint, not persist: the 3 rounds run as ONE job at
    // the caller's final action (no driver probes in this loop), so a
    // persist released in a `finally` at build time is gone before the
    // blocks could serve anything — the symmetric edge build would
    // recompute once per round inside that job. Checkpointed blocks
    // fill at the first reference, serve all rounds, then GC.
    val ed = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = false)
    val nodes = ed.select(col("src").as("node")).distinct()
    // the seed table is tiny (|parts|/17 rows) and loop-INVARIANT:
    // checkpoint it once (never re-scan lineitem per round) and carry a
    // clamped flag on the label table, so the per-round update is ONE
    // left join against the majority table instead of re-joining seeds
    // every round — same semantics (a seeded node's coalesce always
    // resolves to its seed)
    val seeds = li.select(col("l_partkey")).where(col("l_partkey") % 17 === 0).distinct()
      .select((col("l_partkey") * 2 + 1).as("node"),
        (col("l_partkey") % 4).cast("long").as("seed"))
      .localCheckpoint()
    locally {
      // lazy round checkpoints: the final aggregate's single action
      // materializes all three rounds with lineage cuts at each (the
      // round-15 SCC/PageRank job-batching discipline)
      var labels = nodes.join(broadcast(seeds), Seq("node"), "left")
        .select(col("node"), col("seed").as("label"),
          col("seed").isNotNull.as("clamped"))
        .localCheckpoint(eager = false)
      for (_ <- 1 to 3) {
        val l = labels.where(col("label").isNotNull)
          .select(col("node").as("lnode"), col("label").as("llab"))
        val msgs = ed.join(l, ed("src") === col("lnode"))
          .groupBy(col("dst"), col("llab")).agg(count(lit(1)).as("c"))
        val maj = msgs.groupBy(col("dst"))
          .agg(max_by(col("llab"), struct(col("c"), (-col("llab")).as("nl"))).as("mlab"))
        labels = labels.join(maj, labels("node") === maj("dst"), "left")
          .select(labels("node"),
            when(labels("clamped"), labels("label"))
              .otherwise(coalesce(col("mlab"), labels("label"))).as("label"),
            labels("clamped"))
          .localCheckpoint(eager = false)
      }
      labels.groupBy(col("label")).agg(
          count(lit(1)).as("n_nodes"),
          sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("n_parts"),
          sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("n_orders"))
        .select(coalesce(col("label"), lit(-1L)).as("label"),
          col("n_nodes"), col("n_parts"), col("n_orders"))
        .orderBy(col("label"))
    }
  }

  private[queries] def lpaRoundSql(r: Int): String = {
    val prev = s"l${r - 1}"
    s"""
    m$r AS MATERIALIZED (
      SELECT ed.dst AS node, l.label, count(*) AS c
      FROM ed JOIN $prev l ON l.node = ed.src WHERE l.label IS NOT NULL
      GROUP BY ed.dst, l.label),
    j$r AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rk
        FROM m$r) WHERE rk = 1),
    l$r AS MATERIALIZED (
      SELECT n.node, coalesce(s.seed, j.label, p.label) AS label
      FROM nodes n
      LEFT JOIN seeds s ON s.node = n.node
      LEFT JOIN j$r j ON j.node = n.node
      LEFT JOIN $prev p ON p.node = n.node)"""
  }

  private[queries] def labelPropOracle: String = s"""
    WITH e0 AS (SELECT DISTINCT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem),
    ed AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
    seeds AS MATERIALIZED (
      SELECT DISTINCT 'p' || l_partkey AS node, CAST(l_partkey % 4 AS BIGINT) AS seed
      FROM lineitem WHERE l_partkey % 17 = 0),
    l0 AS MATERIALIZED (
      SELECT n.node, s.seed AS label FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
    ${(1 to 3).map(lpaRoundSql).mkString(",")}
    SELECT coalesce(label, -1) AS label,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(CASE WHEN node LIKE 'p%' THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN node LIKE 'o%' THEN 1 ELSE 0 END) AS BIGINT) AS n_orders
    FROM l3 GROUP BY coalesce(label, -1) ORDER BY label"""

  // ------------------------------------------------------- PageRank

  /** q111 — damped PageRank ([[graft.ops.PageRank]]) over the
    * order→part bipartite graph from lineitem (3 power iterations,
    * d=0.85): the link-centrality scorer used for graph-based document
    * quality. The oracle unrolls the same 3 iterations as plain CTEs —
    * both engines drop dangling mass identically. Ranks normalize by N
    * and round to 6 so the top-k boundary is deterministic. */
  private[queries] def pagerankQuery(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // node ids are LONGS inside the loop (orders even, parts odd): the
    // 3 power-iteration joins shuffle 8-byte keys instead of 8-10 char
    // strings — ~half the shuffle bytes and cheap hashing at 100 TB.
    // The public "p<key>" label is reconstructed on the 20-row output;
    // the graph is isomorphic so every rank is bit-identical.
    val edges = li.select(
      (col("l_orderkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst")).distinct()
    graft.ops.PageRank.run(edges, k = 3, normalize = true)
      .filter(col("node") % 2 === 1)
      .select(concat(lit("p"), ((col("node") - 1) / 2).cast("long")).as("node"),
        round(col("rank"), 6).as("nrank"))
      .orderBy(col("nrank").desc, col("node").asc)
      .limit(20)
  }

  private[queries] lazy val pagerankOracle = """
    WITH edges AS (
      SELECT DISTINCT 'o' || l_orderkey AS src, 'p' || l_partkey AS dst FROM lineitem),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
    params AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outdeg AS (SELECT src, count(*)::DOUBLE AS od FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
    r1 AS (
      SELECT nodes.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(c.s, 0) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / od.od) AS s
        FROM edges e JOIN r0 r ON r.node = e.src JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nodes.node),
    r2 AS (
      SELECT nodes.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(c.s, 0) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / od.od) AS s
        FROM edges e JOIN r1 r ON r.node = e.src JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nodes.node),
    r3 AS (
      SELECT nodes.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(c.s, 0) AS rank
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / od.od) AS s
        FROM edges e JOIN r2 r ON r.node = e.src JOIN outdeg od ON od.src = e.src
        GROUP BY e.dst) c ON c.node = nodes.node)
    SELECT node, round(rank * (SELECT n FROM params), 6) AS nrank
    FROM r3 WHERE node LIKE 'p%'
    ORDER BY nrank DESC, node ASC LIMIT 20"""

  // ----------------------------------------- quality classifier (q144)

  /** Distributed logistic-regression quality classifier (the GPT-3/
    * CCNet-style learned quality filter): hashed bag-of-unigram features
    * (64 md5 buckets, tf-normalized), label = (lang == 'en'), full-batch
    * gradient descent, 3 rounds, lr 0.5. Returns the trained weight per
    * bucket plus the intercept (bucket −1), rounded 6dp.
    *
    * Scale design (the KMeans loop playbook):
    *  - The tf table (doc, bucket, x) aggregates once and persists; the
    *    Zipf token head absorbs map-side in that one partial/final agg.
    *  - Per round the model is 64 doubles — broadcast as a LITERAL array
    *    into the scoring projection (no join against a weights table);
    *    scoring is ONE hash agg by doc over the persisted tf rows, and
    *    the gradient is ONE hash agg by bucket after a doc-keyed join
    *    whose both sides share the same key.
    *  - The driver sees 64+1 gradient scalars per round (codebook
    *    pattern) — never row data.
    *
    * Oracle: the 3 GD rounds unroll as DuckDB CTEs over the identical
    * md5-bucket tf table (the q98 merge-round playbook). */
  private[queries] lazy val ClsBuckets = 64
  private[queries] lazy val ClsLr = 0.5
  private[queries] lazy val ClsRounds = 3

  private[queries] def qualityClassifierQuery(s0: SparkSession, dir: String): DataFrame = {
    val s = docs(s0, dir)
    // A gated-scale corpus arrives as ONE parquet split, which serializes
    // the per-token md5+conv projection — the query's hottest stage (jobs
    // profile: 3.3 s wall / 2.4 s cpu in a single task at sf0.1) — on one
    // core. Spread the docs across the session's parallelism BEFORE the
    // explode (round 21, guide §2.2: partitioning must be scale-adaptive,
    // not inherited from a one-file layout). At data scale the file
    // layout already parallelizes and the extra text shuffle would be
    // pure cost, so the hint is gated the same way as the driver-local
    // kernels. Values are untouched: the tokenize/bucket projection is
    // per-row, the feature counts are integers, and the per-doc/bucket
    // float sums already ride arrival-order-nondeterministic exchanges.
    // explicit partition count (the session's parallelism — conf-driven,
    // not a local constant): a bare REPARTITION(doc_id) of a ~5k-row
    // corpus gets AQE-coalesced straight back to one partition (measured:
    // the md5 stage re-serialized behind a 1-task shuffle read), while an
    // explicit N is user-pinned and AQE leaves it alone
    val tokSrc =
      if (graft.ops.SizeGate.small(s.table("documents")))
        s"(SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism}, doc_id) */ doc_id, lang, text FROM documents)"
      else "documents"
    val fx = s.sql(s"""
      WITH tok AS (
        SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               cast(conv(substr(md5(tok), 1, 8), 16, 10) AS bigint) % $ClsBuckets AS b
        FROM (SELECT doc_id, lang, explode(split(lower(text), ' ')) AS tok FROM $tokSrc)
        WHERE tok != ''),
      feat AS (SELECT doc_id, y, b, cast(count(1) AS double) AS c FROM tok GROUP BY 1, 2, 3),
      ntok AS (SELECT doc_id, sum(c) AS n FROM feat GROUP BY 1)
      SELECT f.doc_id, f.y, f.b, f.c / t.n AS x
      FROM feat f JOIN ntok t ON f.doc_id = t.doc_id""")
      // pre-partition by the ITERATION key before caching: every round
      // groups by doc_id (the dot product) and joins err by doc_id (the
      // gradient) — hash(doc_id) blocks satisfy both distributions, so
      // the 3 GD rounds re-shuffle 64 gradient rows, never the tf table.
      // At 100 TB this is the difference between one partitioning paid
      // once and 2 full shuffles of the feature relation per round.
      .repartition(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDocs = fx.select(countDistinct(col("doc_id"))).head.getLong(0).toDouble
      val w = Array.fill(ClsBuckets)(0.0)
      var b0 = 0.0
      for (_ <- 1 to ClsRounds) {
        val wArr = array(w.map(lit).toIndexedSeq: _*)
        val err = fx.groupBy(col("doc_id"))
          .agg(max(col("y")).as("y"),
            sum(col("x") * element_at(wArr, col("b").cast("int") + 1)).as("dot"))
          .select(col("doc_id"),
            (lit(1.0) / (lit(1.0) + exp(-(col("dot") + lit(b0)))) - col("y")).as("err"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // bucket gradients AND the bias gradient in ONE action (the
        // bias rides as sentinel bucket −1): one job launch per round,
        // with the persisted err read by both branches inside it
        val gRows = fx.join(err, "doc_id")
          .groupBy(col("b")).agg(sum(col("err") * col("x")).as("g"))
          .unionByName(err.agg(avg(col("err")).as("g")).select(lit(-1L).as("b"), col("g")))
          .collect()
        err.unpersist(blocking = false)
        gRows.foreach { r =>
          if (r.getLong(0) < 0) b0 -= ClsLr * r.getDouble(1)
          else w(r.getLong(0).toInt) -= ClsLr * r.getDouble(1) / nDocs
        }
      }
      import s.implicits._
      (w.toIndexedSeq.zipWithIndex.map { case (wv, b) => (b.toLong, wv) } :+ (-1L, b0))
        .toDF("b", "w")
        .select(col("b"), round(col("w"), 6).as("w"))
        .orderBy(col("b"))
    } finally fx.unpersist(blocking = false)
  }

  private[queries] def clsRoundSql(r: Int): String = {
    val prevW = if (r == 1) "w0" else s"w${r - 1}"
    val prevB = if (r == 1) "bi0" else s"bi${r - 1}"
    s"""
    s$r AS (SELECT f.doc_id, max(f.y) AS y, sum(f.x * p.w) AS dot
            FROM fx f JOIN $prevW p ON p.b = f.b GROUP BY f.doc_id),
    e$r AS (SELECT doc_id, 1 / (1 + exp(-(dot + (SELECT b0 FROM $prevB)))) - y AS err FROM s$r),
    g$r AS (SELECT f.b, sum(e.err * f.x) / (SELECT nd FROM nd) AS g
            FROM fx f JOIN e$r e ON e.doc_id = f.doc_id GROUP BY f.b),
    w$r AS (SELECT p.b, p.w - $ClsLr * coalesce(g$r.g, 0) AS w
            FROM $prevW p LEFT JOIN g$r ON g$r.b = p.b),
    bi$r AS (SELECT (SELECT b0 FROM $prevB) - $ClsLr * avg(err) AS b0 FROM e$r)"""
  }

  private[queries] def qualityClassifierOracle: String = s"""
    WITH tok AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % $ClsBuckets AS b
      FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
      WHERE tok != ''),
    feat AS (SELECT doc_id, y, b, count(1)::DOUBLE AS c FROM tok GROUP BY 1, 2, 3),
    ntok AS (SELECT doc_id, sum(c) AS n FROM feat GROUP BY 1),
    fx AS (SELECT f.doc_id, f.y, f.b, f.c / t.n AS x
           FROM feat f JOIN ntok t ON f.doc_id = t.doc_id),
    nd AS (SELECT count(DISTINCT doc_id)::DOUBLE AS nd FROM fx),
    w0 AS (SELECT CAST(range AS BIGINT) AS b, 0.0 AS w FROM range($ClsBuckets)),
    bi0 AS (SELECT 0.0 AS b0),
    ${(1 to ClsRounds).map(clsRoundSql).mkString(",")}
    SELECT b, round(w, 6) AS w FROM w$ClsRounds
    UNION ALL
    SELECT -1, round(b0, 6) FROM bi$ClsRounds
    ORDER BY b"""

  // ------------------------------------------ PCA power iteration (q145)

  /** Distributed PCA of the embedding corpus — top principal component
    * via MATRIX-FREE power iteration: the 64×64 covariance is never
    * materialized; each round applies C·v = Σ (x−μ)((x−μ)·v)/(n−1) with
    * one map-side dot product (sequential fold, fixed IEEE order) and
    * ONE hash aggregate on the dimension index (64 groups). v₀ =
    * 1/√64 · 1⃗, 3 rounds, output the component loading per dim plus the
    * eigenvalue estimate λ = ‖s‖/(n−1) (row −1), rounded 6dp.
    *
    * Scale: the centered table persists once; each round's driver
    * traffic is 64 doubles (broadcast back as a literal array — the
    * KMeans codebook pattern). At 100 TB this is one scan per round
    * with a 64-row shuffle — the optimal distributed PCA shape when
    * d is small; the oracle unrolls the same rounds as DuckDB CTEs. */
  private[queries] lazy val PcaRounds = 3

  private[queries] def pcaPowerQuery(s0: SparkSession, dir: String): DataFrame = {
    val s = embs(s0, dir)
    val dim = 64
    val e = s.sql("SELECT vec_id, cast(embedding AS array<double>) AS emb FROM embeddings")
    // mean vector: 64 scalars to the driver (codebook pattern), broadcast
    // back as a literal array — subqueries can't appear inside zip_with
    val muRows = e.select(posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(avg(col("v")).as("m")).collect()
    val mu = Array.fill(dim)(0.0)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val muArr = array(mu.map(lit).toIndexedSeq: _*)
    val cent = e.select(col("vec_id"), zip_with(col("emb"), muArr, (x, m) => x - m).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cent.count().toDouble
      var v = Array.fill(dim)(1.0 / math.sqrt(dim))
      var sNorm = 0.0
      for (_ <- 1 to PcaRounds) {
        val vArr = array(v.map(lit).toIndexedSeq: _*)
        val withDot = cent.withColumn("dot",
          expr_dot(col("c"), vArr))
        val sRows = withDot
          .select(posexplode(col("c")).as(Seq("pos", "cv")), col("dot"))
          .groupBy(col("pos")).agg(sum(col("cv") * col("dot")).as("s"))
          .collect()
        val sVec = Array.fill(dim)(0.0)
        sRows.foreach(r => sVec(r.getInt(0)) = r.getDouble(1))
        sNorm = math.sqrt(sVec.map(x => x * x).sum)
        v = sVec.map(_ / sNorm)
      }
      val lambda = sNorm / (n - 1)
      import s.implicits._
      (v.toIndexedSeq.zipWithIndex.map { case (lv, d) => (d.toLong, lv) } :+ (-1L, lambda))
        .toDF("dim", "loading")
        .select(col("dim"), round(col("loading"), 6).as("loading"))
        .orderBy(col("dim"))
    } finally cent.unpersist(blocking = false)
  }

  /** Sequential-fold dot product of an array column against a literal
    * array — fixed IEEE order, matching the oracle's list_reduce. Runs
    * in the native VecOps.dot kernel (same left-to-right order as the
    * retired aggregate(zip_with) fold — this is the power-iteration
    * inner loop, evaluated per row per round). */
  private[queries] def expr_dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.DotProductD(
      GraftColumnBridge.catalystExpression(a),
      GraftColumnBridge.catalystExpression(b)))
  }

  /** Power-iterate C·v over a persisted centered table (`c` column):
    * per round one map-side fold dot + ONE 64-group hash agg; 64
    * doubles to/from the driver (codebook pattern). Returns (v, ‖s‖). */
  private[queries] def powerIterate(cent: DataFrame, dim: Int, rounds: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var sNorm = 0.0
    for (_ <- 1 to rounds) {
      val vArr = array(v.map(lit).toIndexedSeq: _*)
      val sRows = cent.withColumn("dot", expr_dot(col("c"), vArr))
        .select(posexplode(col("c")).as(Seq("pos", "cv")), col("dot"))
        .groupBy(col("pos")).agg(sum(col("cv") * col("dot")).as("s"))
        .collect()
      val sVec = Array.fill(dim)(0.0)
      sRows.foreach(r => sVec(r.getInt(0)) = r.getDouble(1))
      sNorm = math.sqrt(sVec.map(x => x * x).sum)
      v = sVec.map(_ / sNorm)
    }
    (v, sNorm)
  }

  /** q194 — top-2 PCA by power iteration + DEFLATION (Hotelling): PC1
    * as in q145, then the rank-one deflated table c₂ = c − (c·v₁)v₁
    * (computed map-side against the broadcast-literal v₁ — the
    * covariance is still never materialized) and a second power
    * iteration on it. Completes the PCA surface from one component to
    * a top-k scheme: each extra component costs `rounds` more scans of
    * the SAME persisted centered table, nothing quadratic anywhere.
    * Output: (comp, dim, loading) with the eigenvalue at dim = −1 and
    * the v₁·v₂ orthogonality check at comp 0 / dim −2 (≈ 0 pinned to
    * 6dp). Oracle unrolls both iterations + the deflation as CTEs. */
  private[queries] def pcaTop2Query(s0: SparkSession, dir: String): DataFrame = {
    val s = embs(s0, dir)
    val dim = 64
    val e = s.sql("SELECT vec_id, cast(embedding AS array<double>) AS emb FROM embeddings")
    val muRows = e.select(posexplode(col("emb")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(avg(col("v")).as("m")).collect()
    val mu = Array.fill(dim)(0.0)
    muRows.foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    val muArr = array(mu.map(lit).toIndexedSeq: _*)
    val cent = e.select(col("vec_id"), zip_with(col("emb"), muArr, (x, m) => x - m).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cent.count().toDouble
      val (v1, s1) = powerIterate(cent, dim, PcaRounds)
      val v1Arr = array(v1.map(lit).toIndexedSeq: _*)
      val cent2 = cent.withColumn("dot", expr_dot(col("c"), v1Arr))
        .select(col("vec_id"),
          zip_with(col("c"), v1Arr, (x, vv) => x - col("dot") * vv).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val (v2, s2) = powerIterate(cent2, dim, PcaRounds)
        val cross = v1.zip(v2).map { case (a, b) => a * b }.sum
        import s.implicits._
        val rows =
          v1.toIndexedSeq.zipWithIndex.map { case (lv, d) => (1L, d.toLong, lv) } ++
          Seq((1L, -1L, s1 / (n - 1))) ++
          v2.toIndexedSeq.zipWithIndex.map { case (lv, d) => (2L, d.toLong, lv) } ++
          Seq((2L, -1L, s2 / (n - 1)), (0L, -2L, cross))
        rows.toDF("comp", "dim", "loading")
          // + 0.0 canonicalizes IEEE −0.0 (the orthogonality row rounds
          // to signed zero on one engine and not the other)
          .select(col("comp"), col("dim"),
            (round(col("loading"), 6) + lit(0.0)).as("loading"))
          .orderBy(col("comp"), col("dim"))
      } finally cent2.unpersist(blocking = false)
    } finally cent.unpersist(blocking = false)
  }

  private[queries] def pca2RoundSql(tbl: String, pfx: String, r: Int): String = {
    val prevV = s"$pfx${r - 1}"
    // MATERIALIZED: without it DuckDB inlines the CTE chain and the
    // 6-round double-component tree re-evaluates `cent` exponentially
    s"""
    ${pfx}r$r AS MATERIALIZED (SELECT c.vec_id, sum(c.c * p.v) AS dot
            FROM $tbl c JOIN $prevV p ON p.i = c.i GROUP BY c.vec_id),
    ${pfx}s$r AS MATERIALIZED (SELECT c.i, sum(c.c * d.dot) AS s
            FROM $tbl c JOIN ${pfx}r$r d ON d.vec_id = c.vec_id GROUP BY c.i),
    ${pfx}n$r AS MATERIALIZED (SELECT sqrt(sum(s * s)) AS nrm FROM ${pfx}s$r),
    $pfx$r AS MATERIALIZED (SELECT i, s / (SELECT nrm FROM ${pfx}n$r) AS v FROM ${pfx}s$r)"""
  }

  private[queries] def pcaTop2Oracle: String = s"""
    WITH expl AS (
      SELECT vec_id, i::BIGINT AS i, embedding[i + 1]::DOUBLE AS x
      FROM embeddings, unnest(range(len(embedding))) AS t(i)),
    mu AS (SELECT i, avg(x) AS m FROM expl GROUP BY i),
    cent AS MATERIALIZED (SELECT e.vec_id, e.i, e.x - mu.m AS c FROM expl e JOIN mu ON mu.i = e.i),
    nrows AS (SELECT count(DISTINCT vec_id)::DOUBLE AS n FROM cent),
    a0 AS (SELECT CAST(range AS BIGINT) AS i, 1.0 / sqrt(64) AS v FROM range(64)),
    ${(1 to PcaRounds).map(pca2RoundSql("cent", "a", _)).mkString(",")},
    d1 AS MATERIALIZED (SELECT c.vec_id, sum(c.c * p.v) AS dot
           FROM cent c JOIN a$PcaRounds p ON p.i = c.i GROUP BY c.vec_id),
    cent2 AS MATERIALIZED (SELECT c.vec_id, c.i, c.c - d1.dot * p.v AS c
              FROM cent c JOIN d1 ON d1.vec_id = c.vec_id
              JOIN a$PcaRounds p ON p.i = c.i),
    b0 AS (SELECT CAST(range AS BIGINT) AS i, 1.0 / sqrt(64) AS v FROM range(64)),
    ${(1 to PcaRounds).map(pca2RoundSql("cent2", "b", _)).mkString(",")}
    SELECT comp, dim, round(loading, 6) + 0.0 AS loading FROM (
      SELECT CAST(1 AS BIGINT) AS comp, i AS dim, v AS loading FROM a$PcaRounds
      UNION ALL
      SELECT 1, -1, (SELECT nrm FROM an$PcaRounds) / ((SELECT n FROM nrows) - 1)
      UNION ALL
      SELECT 2, i, v FROM b$PcaRounds
      UNION ALL
      SELECT 2, -1, (SELECT nrm FROM bn$PcaRounds) / ((SELECT n FROM nrows) - 1)
      UNION ALL
      SELECT 0, -2, (SELECT sum(a.v * b.v) FROM a$PcaRounds a JOIN b$PcaRounds b ON a.i = b.i))
    ORDER BY comp, dim"""

  private[queries] def pcaRoundSql(r: Int): String = {
    val prevV = s"v${r - 1}"
    s"""
    r$r AS (SELECT c.vec_id, sum(c.c * p.v) AS dot
            FROM cent c JOIN $prevV p ON p.i = c.i GROUP BY c.vec_id),
    s$r AS (SELECT c.i, sum(c.c * d.dot) AS s
            FROM cent c JOIN r$r d ON d.vec_id = c.vec_id GROUP BY c.i),
    n$r AS (SELECT sqrt(sum(s * s)) AS nrm FROM s$r),
    v$r AS (SELECT i, s / (SELECT nrm FROM n$r) AS v FROM s$r)"""
  }

  private[queries] def pcaOracle: String = s"""
    WITH expl AS (
      SELECT vec_id, i::BIGINT AS i, embedding[i + 1]::DOUBLE AS x
      FROM embeddings, unnest(range(len(embedding))) AS t(i)),
    mu AS (SELECT i, avg(x) AS m FROM expl GROUP BY i),
    cent AS (SELECT e.vec_id, e.i, e.x - mu.m AS c FROM expl e JOIN mu ON mu.i = e.i),
    nrows AS (SELECT count(DISTINCT vec_id)::DOUBLE AS n FROM cent),
    v0 AS (SELECT CAST(range AS BIGINT) AS i, 1.0 / sqrt(64) AS v FROM range(64)),
    ${(1 to PcaRounds).map(pcaRoundSql).mkString(",")}
    SELECT i AS dim, round(v, 6) AS loading FROM v$PcaRounds
    UNION ALL
    SELECT -1, round((SELECT nrm FROM n$PcaRounds) / ((SELECT n FROM nrows) - 1), 6)
    ORDER BY dim"""

}
