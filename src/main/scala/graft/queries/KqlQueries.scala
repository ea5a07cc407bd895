package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.kql.Kql
import graft.kql.Kql._

/** The reference's emitted-KQL query surface (SURVEY.md §2.2 Q1–Q8 plus
  * Kusto `dynamic` access), re-expressed as Catalyst plans over the
  * `events` table.
  *
  * Reference citations (relative to /root/reference/):
  *  - Q1  `TBL | count`                       KustoSinkTask.java:46,240-242
  *  - Q2  `where vtype == 'x' | project vlong, vresult = pack_all()`
  *                                            src/test/.../it/KustoSinkIT.java:269-271
  *  - Q3  `where MetricName in (…) / startswith`  grafana dashboards json:43,120,401
  *  - Q4  `project Timestamp, MetricValue`
  *  - Q5  `extend Series = case(p1, v1, …, default)`
  *  - Q6  `order by … / top 1 by … desc`
  *  - Q7  `summarize LatestValue = arg_max(Timestamp, MetricValue) by MetricName`
  *  - Q8  `take 10`
  *  - dynamic column access (`props.k`): Kusto `dynamic` ≈ JSON string +
  *    `get_json_object`, cf. OTEL `ResourceAttributes: dynamic` in
  *    docker-quickstart/connector-config/create-table.kql:44-54.
  *
  * Scale notes: every plan here is a single scan with filters/projections
  * pushed into the parquet reader; aggregates are hash partial+final;
  * top-n is TakeOrderedAndProject (no global sort). Nothing materializes
  * driver-side.
  */
object KqlQueries extends QueryModule {

  /** q187's derived-CSV fixture lives in a per-JVM temp directory so two
    * concurrent bench/test invocations on one machine never race on a
    * shared /tmp path (each process overwrites only its own copy). */
  private lazy val externaldataFixtureDir: String =
    java.nio.file.Files.createTempDirectory("graft_externaldata_fixture_")
      .toFile.getAbsolutePath

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_count" -> ((s, dir) => Tables.events(s, dir).kqlCount("cnt")),

    "q02_where_project_packall" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlWhere(col("event_type") === "error")
        .kqlProject(col("event_id"),
          Kql.pack(col("event_id"), col("user_id"), col("event_type"), col("props"))
            .as("vresult"))
        .kqlOrderBy(col("event_id"))),

    "q03_where_in_startswith" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlWhere(col("event_type").isin("signup", "purchase") ||
          col("event_type").startsWith("err"))
        .kqlProject(col("event_id"), col("event_type"))
        .kqlOrderBy(col("event_id"))),

    "q04_project" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlProject(col("event_id"), col("user_id"), col("value"))
        .kqlOrderBy(col("event_id"))),

    "q05_extend_case" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlExtend("series", Kql.kqlCase(Seq(
          (col("value") < 10d) -> lit("low"),
          (col("value") < 100d) -> lit("mid")),
          lit("high")))
        .kqlProject(col("event_id"), col("event_type"), col("series"))
        .kqlOrderBy(col("event_id"))),

    "q06_top_by" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlTop(5, col("value").desc, col("event_id").asc)
        .kqlProject(col("event_id"), col("user_id"), col("value"))),

    // arg_max with a deterministic (ts, event_id) tie-break: struct
    // comparison in max_by is lexicographic, so tied timestamps resolve
    // by event_id instead of arbitrarily (VERDICT r1 item 7).
    "q07_summarize_argmax" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlSummarize(Seq(col("event_type")),
          "latest_value" -> Kql.argMax(struct(col("ts"), col("event_id")), col("value")),
          "latest_ts_ms" -> unix_millis(max(col("ts"))))
        .kqlOrderBy(col("event_type"))),

    "q08_take" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlOrderBy(col("event_id"))
        .kqlTake(10)
        .kqlProject(col("event_id"), col("event_type"))),

    "q09_dynamic_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .kqlExtend("k", get_json_object(col("props"), "$.k").cast("long"))
        .kqlWhere(col("k") >= 50)
        .kqlProject(col("event_id"), col("k"))
        .kqlOrderBy(col("event_id"))),

    // KQL TEXT through the string-level compiler (graft.kql.KqlCompiler):
    // the reference's users hold queries as KQL strings (emitted probes,
    // dashboard panels), so the compiled path is itself oracle-gated.
    "q39_kql_text_project" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'error'
          | | project event_id, vresult = pack('event_id', event_id, 'user_id', user_id,
          |                                    'event_type', event_type, 'props', props)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    "q40_kql_text_summarize" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type in ('purchase', 'error') and value >= 10
          | | extend bucket = case(value < 50, 'small', value < 90, 'medium', 'large')
          | | summarize n = count(), total = round(sum(value), 2), mx = max(value) by event_type, bucket
          | | order by event_type asc, bucket asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // Kusto `dynamic` access as KQL TEXT: parse_json + dot-path + tolong
    // through the compiler — same semantics (and oracle) as the q09
    // DataFrame shape.
    "q48_kql_text_dynamic" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend k = tolong(parse_json(props).k)
          | | where k >= 50
          | | project event_id, k
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // Multi-table KQL text: let binding + leftouter join — the dashboard
    // pattern (enrich a fact stream with a summarized dimension). The
    // summarized side is small after aggregation, so Catalyst broadcasts
    // it (AQE size-based) — no shuffle of the fact side at scale.
    "q52_kql_text_join" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let clicks = events | where event_type == 'click' | summarize n_clicks = count() by user_id;
          |events
          | | where event_type == 'purchase'
          | | project event_id, user_id, pval = value
          | | join kind=leftouter (clicks) on user_id
          | | project event_id, user_id, pval, n_clicks
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // bin() as a computed summarize key — the Grafana histogram/timeseries
    // panel shape (`summarize ... by bin(x, width)`).
    "q59_kql_text_bin" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | summarize n = count(), avg_v = round(avg(value), 6) by b = bin(value, 10)
          | | order by b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // The datetime surface the reference's Grafana dashboards emit
    // (kafka-connect-metrics.json:43,120): a datetime() literal lower
    // bound, an ago() upper bound, and a timespan bin() as the timeseries
    // bucket key. now() is injected (Kusto fixes now() per query) so the
    // query is deterministic and oracle-gated. The bin lowers to exact
    // epoch-micros arithmetic inside whole-stage codegen, and both time
    // predicates are literal comparisons — pushed to the parquet scan.
    "q63_kql_text_datetime" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where ts >= datetime(2024-01-05T06:00:00Z) and ts < ago(36h)
          | | summarize n = count(), avg_v = round(avg(value), 6) by tb = bin(ts, 12h)
          | | order by tb asc""".stripMargin,
        _ => Tables.events(s, dir),
        java.time.Instant.parse("2024-01-29T00:00:00Z"))),

    // The next ring of the datetime surface (Grafana time-range macros
    // expand to exactly these shapes): `between` over datetime literals,
    // the timespan algebra (`now() - ts` → micros, compared to a timespan
    // literal), and `startofday` as the summarize key. All three filters
    // lower to literal comparisons on the timestamp column — pushed to the
    // parquet scan — and startofday is date_trunc inside codegen.
    "q66_kql_text_dt_breadth" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where ts between (datetime(2024-01-03) .. datetime('2024-01-25 00:00:00')) and now() - ts >= 5d
          | | summarize n = count(), avg_v = round(avg(value), 6) by d = startofday(ts)
          | | order by d asc""".stripMargin,
        _ => Tables.events(s, dir),
        java.time.Instant.parse("2024-01-29T00:00:00Z"))),

    // Scalar ring 2 — the log-dashboard staples: `matches regex`,
    // `extract(regex, group, source)` (lowered to regexp_extract, one
    // codegen'd probe), datetime part extractors, and `bin_at` (bins
    // aligned to a fixed point instead of the epoch — Grafana's
    // offset-aligned buckets). bin_at lowers to exact long micros with
    // pmod, so pre-fixed-point values floor correctly.
    "q67_kql_text_scalar2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type matches regex '^(purchase|error)$' and hourofday(ts) between (6 .. 18)
          | | extend k = tolong(extract('k.: (\\d+)', 1, props))
          | | summarize n = count(), ksum = sum(k), ymax = max(getyear(ts)), mmin = min(getmonth(ts)) by d = bin_at(ts, 1d, datetime(2024-01-02T06:00:00Z))
          | | order by d asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // percentile() in summarize — the latency-dashboard aggregate. Exact
    // interpolated (an exactness upgrade over Kusto's T-digest; same
    // interpolation as DuckDB quantile_cont, so the oracle hash-matches).
    "q70_kql_text_percentile" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | summarize p50 = round(percentile(value, 50), 6), p95 = round(percentile(value, 95), 6), n = count() by event_type
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // `parse` (simple mode) — pattern-based extraction, the log-analytics
    // staple: literals anchor, captures run lazily to the next literal,
    // typed captures cast. One parse-time regex, codegen'd probes.
    "q71_kql_text_parse" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | parse props with '{"k": ' k:long '}'
          | | where k >= 50
          | | summarize n = count(), kavg = round(avg(k), 6) by event_type
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // make-series — the gap-filled timeseries panels are built on: a
    // 12-bucket 2-day axis per event_type with zero-filled empty bins.
    // Plan shape: window filter (scan-pruned literals), one hash agg on
    // (key, bin), tiny scaffold left-join for the fill, per-key ordered
    // array assembly bounded by the axis length. The gate declaration
    // serializes the array columns to JSON text via tostring() (the
    // driver's pandas comparison cannot sort array cells); array-shaped
    // semantics stay covered by KqlCompilerSpec.
    "q72_kql_text_makeseries" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | project event_type, n = tostring(n), ts = tostring(ts)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // serialize + window functions — row deltas over an explicit order,
    // the rate/derivative shape dashboards compute from counters. The
    // serialization point is a global window by definition (as in Kusto).
    "q73_kql_text_serialize" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | project event_id, value
          | | order by event_id asc
          | | serialize rn = row_number()
          | | extend dv = round(value - prev(value), 6), nxt = next(event_id)
          | | where rn <= 100
          | | project event_id, rn, dv, nxt
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // Aggregate/scalar ring 3: stdev/variance, sorted make_set, scalar
    // min_of, 0-based indexof — grouped by a numeric bin. make_set is
    // serialized to JSON text for the gate (pandas cannot sort array
    // cells); array-shaped make_set stays spec-covered.
    "q74_kql_text_agg2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend pos = indexof(event_type, 'u'), m = min_of(value, 50.0)
          | | summarize sd = round(stdev(value), 6), vr = round(variance(value), 6), msum = round(sum(m), 6), pmax = max(pos), types = tostring(make_set(event_type)) by b = bin(value, 25)
          | | order by b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // top-nested — hierarchical top-k ("top 2 event types, and within
    // each its top 3 users by value"). Per level: one hash agg, a
    // broadcast join back to the parent winners, a partitioned
    // row_number; ties break (agg DESC, key ASC) deterministically.
    "q75_kql_text_topnested" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | top-nested 2 of event_type by n = count(), top-nested 3 of user_id by v = round(sum(value), 6)
          | | order by event_type asc, v desc, user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // mv-apply — per-row array analytics compiled to array lambdas
    // (filter/aggregate folds), NOT explode + groupBy: zero shuffle, no
    // row-correlation machinery, the map-only way to do per-document
    // token analytics at 100 TB.
    "q77_kql_text_mvapply" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """documents
          | | extend t = split(text, ' ')
          | | mv-apply w = t on ( where strlen(w) >= 5 | summarize n5 = count(), mx = max(strlen(w)), s5 = sum(strlen(w)) )
          | | project doc_id, n5, mx, s5
          | | order by doc_id asc""".stripMargin,
        _ => Tables.documents(s, dir))),

    // Table generators — `range` (a distributed axis, session.range +
    // affine projection: no literal array on the driver), `datatable`
    // (inline dimension), composed through a let + leftouter join. The
    // generator trio is how Kusto users mint scaffolds and test fixtures.
    "q80_kql_text_range" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let squares = range x from 1 to 200 step 3 | extend y = x * x, b = x % 2;
          |let dims = datatable(b: long, tag: string)[0, 'lo', 1, 'hi'];
          |squares
          | | join kind=leftouter (dims) on b
          | | summarize n = count(), sy = sum(y), w = max(strlen(tag)) by tag
          | | order by tag asc""".stripMargin,
        _ => Tables.events(s, dir),
        java.time.Instant.parse("2024-01-29T00:00:00Z"), s)),

    // top-hitters — the heavy-hitter probe (here: top spenders by summed
    // value). Exact (one hash agg + TakeOrderedAndProject) with Kusto's
    // approximate_* naming.
    "q81_kql_text_tophitters" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | top-hitters 3 of user_id by value
          | | project user_id, s = round(approximate_sum_value, 6)
          | | order by user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // row_cumsum over a serialized order + a running-budget cut — the
    // "take items until the budget is spent" shape (token budgets, cost
    // caps). Filter compares the ROUNDED total so both engines cut at
    // the same row.
    "q82_kql_text_rowcumsum" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'purchase'
          | | project event_id, value
          | | order by event_id asc
          | | serialize cs = round(row_cumsum(value), 6)
          | | where cs <= 1000.0
          | | project event_id, cs
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // Scalar ring 4: strcmp (three-way binary compare), translate
    // (char-map, Kusto source-LAST order), trim_start/trim_end (regex
    // edge trims), hash (xxhash64) gated through dcount so the oracle
    // compares CARDINALITY, not engine-specific hash values.
    "q86_kql_text_scalar4" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend sc = strcmp(event_type, 'purchase'),
          |          tr = translate('cku', 'CKU', event_type),
          |          t1 = trim_start('e', event_type),
          |          t2 = trim_end('w', event_type)
          | | summarize n = count(), dh = dcount(hash(props)) by sc, tr, t1, t2
          | | order by tr asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate pivot — Kusto's pivot plugin with EXPLICIT output columns
    // (one hash agg, no driver-side distinct: the scale-safe form).
    "q87_kql_text_pivot" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend b = tolong(value / 25)
          | | project b, event_type, value
          | | evaluate pivot(event_type, sum(value), 'click', 'purchase', 'signup', 'error', 'view')
          | | extend click = round(click, 6), purchase = round(purchase, 6), signup = round(signup, 6), error = round(error, 6), view = round(view, 6)
          | | order by b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate pivot WITHOUT explicit output columns — Kusto's default
    // form infers the column set from the data. Lowers to Spark's
    // bounded inference: ONE distinct job on the pivot column (capped
    // by spark.sql.pivotMaxValues, loud error past it — the
    // toscalar-class bounded driver read), values sorted so the output
    // schema is deterministic. The oracle names the known fixture
    // values; the engine must DISCOVER them.
    "q204_kql_text_pivot_inferred" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend b = tolong(value / 25)
          | | project b, event_type
          | | evaluate pivot(event_type, count())
          | | order by b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate funnel — the ops.Funnel sequence matcher from KQL text
    // (the funnel_sequence_completion plugin shape).
    "q88_kql_text_funnel" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate funnel(user_id, ts, event_type, 'view', 'click', 'purchase')
          | | where converted
          | | project k, t3
          | | order by k asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series functions over make-series output: element-wise arithmetic
    // (series_multiply/series_add — map-only array lambdas) and the
    // series_stats multi-assign extend. Array columns serialize via
    // tostring for the gate.
    "q83_kql_text_series" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend dbl = series_multiply(n, 2), tot = series_add(n, n)
          | | extend (mn, mni, mx, mxi, av, sd, vr) = series_stats(n)
          | | project event_type, dbl = tostring(dbl), tot = tostring(tot), mn, mni, mx, mxi, av = round(av, 6), sd = round(sd, 6), vr = round(vr, 6)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // fork — Kusto's fan-out operator: both legs re-run over the same
    // input plan; the single-DataFrame form unions the legs by name with
    // a fork_source label (compileMulti returns them separately).
    "q92_kql_text_fork" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | fork hi = (where value >= 50 | summarize n = count(), v = round(sum(value), 6) by event_type)
          |        lo = (where value < 50 | summarize n = count(), v = round(sum(value), 6) by event_type)
          | | order by fork_source asc, event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 5: base64/crypto-hash/array-set family — all codegen'd
    // builtins (base64/md5/sha2/array_*), zero shuffle beyond the final
    // sort; array outputs serialize via tostring() for the gate.
    "q94_kql_text_scalar5" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend b64 = base64_encode_tostring(event_type),
          |          rt = base64_decode_tostring(base64_encode_tostring(event_type)),
          |          md = hash_md5(event_type),
          |          sha = hash_sha256(event_type),
          |          arr = pack_array(tolong(value / 25), event_id % 7, 3)
          | | extend sl = tostring(array_slice(arr, 0, 1)),
          |          su = tostring(set_union(arr, pack_array(3, 99))),
          |          si = tostring(set_intersect(arr, pack_array(tolong(value / 25), 99))),
          |          sd = tostring(set_difference(arr, pack_array(3))),
          |          rot = tostring(array_rotate_left(arr, 1)),
          |          ji = round(jaccard_index(arr, pack_array(3, 99)), 6),
          |          rp = tostring(repeat(event_id % 5, 2)),
          |          scd = strcat_delim('|', event_type, tostring(event_id % 7))
          | | project event_id, b64, rt, md, sha, sl, su, si, sd, rot, ji, rp, scd
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // percentiles() multi-column: tuple-named + auto-named forms share
    // one shuffle (single hash agg producing every percentile column).
    "q95_kql_text_percentiles" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | summarize (p25, p50, p95) = percentiles(value, 25, 50, 95), percentiles(value, 10), n = count() by event_type
          | | extend p25 = round(p25, 6), p50 = round(p50, 6), p95 = round(p95, 6), p10 = round(percentile_value_10, 6)
          | | project-away percentile_value_10
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // sample / sample-distinct — deterministic pseudorandom subsets
    // (xxhash64 order + TakeOrderedAndProject). The gate checks the
    // CARDINALITY contract (a sample's membership is engine-defined):
    // sample N yields exactly N rows, sample-distinct M of c yields
    // min(M, dcount(c)) values — via fork so one query covers both.
    "q96_kql_text_sample" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | fork a = (sample 37 | summarize picked = count())
          |        b = (sample-distinct 10 of event_type | summarize types = count())
          | | project fork_source, picked, types
          | | order by fork_source asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate bag_unpack — dynamic JSON bag → typed columns (schema
    // sample-inferred at compile time, unpack is map-only from_json).
    "q100_kql_text_bagunpack" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate bag_unpack(props)
          | | summarize n = count(), kavg = round(avg(k), 6) by event_type
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // lambda let + invoke — Kusto user functions: the body compiles at
    // the invoke site with the parameter bound to the pipeline (pure
    // plan substitution, zero overhead vs writing the ops inline).
    "q101_kql_text_invoke" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let daily = (T:(*)) { T | where value >= 10 | summarize n = count(), v = round(sum(value), 6) by event_type };
          |events | invoke daily() | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // ring 6: parse kind=regex (raw regex fragments), mv-expand with
    // item index + element typing, bitwise binary_* family — all inside
    // the scan/project codegen span except the explode itself.
    "q102_kql_text_ring6" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | parse kind=regex props with '.*"k": ' kv:long '\\}'
          | | extend arr = pack_array(kv, event_id % 9)
          | | mv-expand with_itemindex=ix arr to typeof(long)
          | | extend ba = binary_and(event_id, 255), bx = binary_xor(arr, 15),
          |          sl = binary_shift_left(arr, 3), sr = binary_shift_right(event_id, 4),
          |          bc = bitset_count_ones(arr)
          | | project event_id, ix, arr, ba, bx, sl, sr, bc
          | | order by event_id asc, ix asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series ring 2 over make-series output: FIR smoothing (exact halves
    // serialize safely), irrational-valued series reduce to rounded
    // scalar sums for cross-engine float determinism.
    "q103_kql_text_series2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend sm = series_fir(n, pack_array(1, 1), true)
          | | project event_type, sm = tostring(sm),
          |           lsum = round(array_sum(series_log(series_add(n, 1))), 6),
          |           qsum = round(array_sum(series_sqrt(n)), 6),
          |           psum = round(array_sum(series_pow(n, 2)), 6)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // hll sketches — the gate checks the CONTRACT (sketch estimates land
    // within 5% of exact, merged and per-group) since sketch values are
    // engine-specific; exact dcounts hash-compare directly. toscalar()
    // binds the corpus-wide exact total at compile time.
    "q104_kql_text_hll" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let exact_total = toscalar(events | summarize dcount(user_id));
          |events
          || summarize h = hll(user_id), exact = dcount(user_id) by event_type
          || as per_type
          || summarize merged = dcount_hll(hll_merge(h)), groups = count()
          || extend total_ok = iff(abs(todouble(merged) / exact_total - 1.0) < 0.05, 1, 0), k = 1
          || join kind=inner (per_type
          |    | project event_type, exact,
          |              grp_ok = iff(abs(todouble(dcount_hll(h)) / exact - 1.0) < 0.05, 1, 0)
          |    | extend k = 1) on k
          || project event_type, exact, grp_ok, groups, total_ok
          || order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // top-nested with others — top-N + labeled rest bucket (the rest
    // re-aggregates from the per-group aggregates: one extra hash agg,
    // no second scan).
    "q105_kql_text_topothers" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | top-nested 3 of event_type with others = 'rest' by n = count()
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate narrow — (Row, Column, Value) transpose over an explicit
    // serialization order; one struct-array explode, values stringified.
    "q106_kql_text_narrow" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | order by event_id asc | take 5
          | | project event_id, event_type, user_id
          | | evaluate narrow()
          | | order by Row asc, Column asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // ring 7: parse-where (filtering parse, regex lookahead) + value
    // ranks. The lookahead keeps only two-digit k values; ranks are over
    // the type-filtered frame before the parse filter.
    "q107_kql_text_ring7" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type in ('click', 'view')
          | | order by event_type asc, event_id asc
          | | serialize
          | | extend rm = row_rank_min(event_type), rd = row_rank_dense(event_type)
          | | parse-where kind=regex props with '.*"k": (?=\\d\\d\\})' kv:long '\\}'
          | | project event_id, event_type, rm, rd, kv
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // datetime ring 2: datetime_add (calendar-aware, clamping) /
    // datetime_diff (boundary-crossing counts — Kusto + DuckDB
    // semantics) / datetime_part + extra date parts. All map-only.
    "q108_kql_text_datetime2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend d1 = datetime_add('day', 3, ts), m1 = datetime_add('month', 1, ts),
          |          dd = datetime_diff('hour', datetime(2024-02-01), ts),
          |          dw = datetime_diff('day', datetime(2024-02-01), ts),
          |          pm = datetime_part('month', ts),
          |          my = monthofyear(ts), dy = dayofyear(ts), wy = week_of_year(ts)
          | | project event_id, d1, m1, dd, dw, pm, my, dy, wy
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // facet by — per-column distinct-value/count tables (one hash agg per
    // facet column), merged as (facet_column, value, count_) strings.
    "q93_kql_text_facet" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend b = tolong(value / 25)
          | | facet by event_type, b
          | | order by facet_column asc, value asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // join ring 2: rightanti (right rows with no left match — Spark has
    // no right_anti type, the compiler lowers by swapping sides into
    // left_anti) + hint.strategy=shuffle (Kusto's shuffle-join hint →
    // Spark shuffle_hash plan hint). Customers who never placed a
    // >300k order, counted per market segment.
    "q115_kql_text_join2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """orders
          | | where o_totalprice > 300000
          | | project c_custkey = o_custkey
          | | join kind=rightanti hint.strategy=shuffle (customer) on c_custkey
          | | summarize n_no_orders = count() by c_mktsegment
          | | order by c_mktsegment asc""".stripMargin,
        name => name match {
          case "customer" => Tables.customer(s, dir)
          case _ => Tables.orders(s, dir)
        })),

    // `scan` — Kusto's sequence state machine, FULL repeated-match
    // semantics (ops.Funnel.scanSequential): every signup starts (or
    // greedily extends) a sequence, the first purchase after a signup
    // run completes it and matching restarts, with_match_id numbers
    // each sequence. Exercised at data scale; the closed form for this
    // disjoint two-step shape makes it exactly oracle-checkable
    // (q126 covers the general machine against a hand-traced oracle).
    "q116_kql_text_scan" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type in ('signup', 'purchase')
          | | order by ts asc, event_id asc
          | | scan with_match_id=mid declare (signup_id:long = 0, spend:real = 0.0) with (
          |     step got_signup: event_type == 'signup' => signup_id = event_id;
          |     step got_purchase: event_type == 'purchase' => spend = value;
          |   )
          | | project event_id, event_type, signup_id, spend, mid
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // the full scan machine against a hand-traced fixture: greedy step
    // extension, mid-sequence non-matching records, promotion REPLACING
    // a waiting sequence, completion + restart, per-sequence match ids.
    // A datatable input makes the expected output enumerable, so the
    // oracle is literal VALUES — a hash-exact gate on the machine.
    "q126_kql_text_scan_machine" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """datatable(id: long, t: string)[
          |  1,'A', 2,'A', 3,'B', 4,'B', 5,'C', 6,'C', 7,'A', 8,'C',
          |  9,'B', 10,'C', 11,'A', 12,'B', 13,'A', 14,'B', 15,'C']
          | | order by id asc
          | | scan with_match_id=mid declare (a:long = 0, b:long = 0) with (
          |     step sa: t == 'A' => a = id;
          |     step sb: t == 'B' => b = id;
          |     step sc: t == 'C';
          |   )
          | | project id, t, a, b, mid
          | | order by id asc""".stripMargin,
        _ => Tables.events(s, dir), java.time.Instant.now(), s)),

    // the repeated-match machine DISTRIBUTED: partition by user_id runs
    // per-user click→purchase matching with one hash shuffle on the key
    // (plan-pinned no-SinglePartition in PlanShapeSpec).
    "q127_kql_text_scan_keyed_repeated" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type in ('click', 'purchase')
          | | order by ts asc, event_id asc
          | | partition by user_id ( scan with_match_id=mid declare (click_id:long = 0) with (
          |     step got_click: event_type == 'click' => click_id = event_id;
          |     step got_purchase: event_type == 'purchase';
          |   ) )
          | | project event_id, user_id, event_type, click_id, mid
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_decompose over make-series output — the production KQL
    // anomaly surface: per-phase-median seasonality (period 4), OLS
    // linefit trend, baseline + residual. Components mv-expand (parallel
    // multi-column zip) to SCALAR rows rounded at 6dp — the float-safe
    // serialization (JSON double formatting differs across engines; a
    // rounded DOUBLE column compares bit-stable).
    "q128_kql_text_series_decompose" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend (baseline, seasonal, trend, residual) = series_decompose(n, 4, 'linefit')
          | | mv-expand with_itemindex=i baseline to typeof(real), seasonal to typeof(real), trend to typeof(real), residual to typeof(real)
          | | project event_type, i, b = round(baseline, 6), sc = round(seasonal, 6), tc = round(trend, 6), r = round(residual, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_decompose_anomalies + series_outliers — residual-scored
    // anomaly flags (ctukey 10/90 fences, threshold 1.0 so flags
    // actually fire on the count series) next to raw-series tukey 25/75
    // scores; same scalar-row serialization as q128.
    "q129_kql_text_series_anomalies" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend (flag, score, base) = series_decompose_anomalies(n, 1.0, 4, 'linefit')
          | | extend outl = series_outliers(n, 'tukey')
          | | mv-expand with_itemindex=i flag to typeof(long), score to typeof(real), base to typeof(real), outl to typeof(real)
          | | project event_type, i, flag, score = round(score, 6), base = round(base, 6), outl = round(outl, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate autocluster — common-pattern mining over (event_type,
    // value band): the basket cube lattice with the pinned deterministic
    // coverage-vs-informativeness score (Kusto's selection is
    // proprietary), top-10 segments in rank order.
    "q131_kql_text_autocluster" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend vb = tostring(tolong(value / 50))
          | | project event_type, vb
          | | evaluate autocluster(0.5)
          | | order by SegmentId asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate diffpatterns — two-slice differential patterns (view vs
    // purchase) over (value band, user bucket): ONE cube with
    // conditional slice counts, |PercentA − PercentB| ≥ 2pp kept.
    "q132_kql_text_diffpatterns" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend vb = tostring(tolong(value / 50)), ub = tostring(user_id % 5)
          | | project event_type, vb, ub
          | | evaluate diffpatterns(event_type, 'view', 'purchase', 0.02)
          | | order by SegmentId asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // todecimal + decimal literals — exact 128-bit-class arithmetic
    // (DecimalType(38,18)): integer-derived decimals keep every engine
    // bit-exact (a double→decimal cast would test the ROUNDING of two
    // engines, not the decimal surface), summed/min/maxed per group. The
    // reference's own IT table carries a decimal column (vdec).
    "q133_kql_text_decimal" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend d = todecimal(todecimal(tolong(value * 100)) + decimal(0.125))
          | | summarize sd = sum(d), mn = min(d), mx = max(d), n = count() by event_type
          | | project event_type, sd = tostring(sd), mn = tostring(mn), mx = tostring(mx), n
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_fit_line — the dashboard trend-line function: OLS over the
    // series vs bin index with rsquare / sample variances / fitted
    // array, multi-assign extend; same scalar-row serialization.
    "q135_kql_text_series_fit" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend (rsq, m, vr, rvr, b, lf) = series_fit_line(n)
          | | mv-expand with_itemindex=i lf to typeof(real)
          | | project event_type, i, rsq = round(rsq, 6), m = round(m, 6), vr = round(vr, 6), rvr = round(rvr, 6), b = round(b, 6), lf = round(lf, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_fit_2lines — the changepoint variant: best two-segment OLS
    // by total RSS over the same count() series (integer-valued bins
    // keep every sum IEEE-exact, so the DuckDB split-scan oracle
    // hash-matches bit-for-bit); ties pinned to the smallest split.
    "q173_kql_text_fit2lines" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend (rsq, sp, vr, rvr, lf) = series_fit_2lines(n)
          | | mv-expand with_itemindex=i lf to typeof(real)
          | | project event_type, i, rsq = round(rsq, 6), sp, vr = round(vr, 6), rvr = round(rvr, 6), lf = round(lf, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_fill family over a make-series WITHOUT default (null gaps):
    // const / forward / backward / linear-interpolated fills, with the
    // pinned edge rules (leading nulls stay under forward, trailing
    // under backward, linear takes the nearest side at edges). A rare
    // predicate + 6h bins guarantees real gaps at every sf.
    "q136_kql_text_series_fill" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where value > 198
          | | make-series n = count() on ts from datetime(2024-01-03) to datetime(2024-01-27) step 6h by event_type
          | | extend fc = series_fill_const(n, -1), ff = series_fill_forward(n), fb = series_fill_backward(n), fl = series_fill_linear(n)
          | | mv-expand with_itemindex=i fc to typeof(real), ff to typeof(real), fb to typeof(real), fl to typeof(real)
          | | project event_type, i, fc, ff, fb, fl = round(fl, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_periods_detect + composition: ACF-ranked candidate periods
    // (rank key pinned to round(acf, 9) so summation-order ulp noise
    // cannot flip cross-engine order), best period fed BACK into
    // series_decompose via array indexing — the full autodetect
    // workflow Kusto spells series_periods_detect → series_decompose.
    "q137_kql_text_series_periods" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 12h by event_type
          | | extend (pds, scs) = series_periods_detect(n, 2, 24, 2)
          | | extend bestp = toint(pds[0])
          | | extend (b, se, tr, r) = series_decompose(n, bestp, 'linefit')
          | | extend rsum = round(array_sum(series_abs(r)), 6)
          | | mv-expand with_itemindex=i pds to typeof(real), scs to typeof(real)
          | | project event_type, i, p = pds, sc = round(scs, 6), bestp, rsum
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_decompose_forecast — the axis extends 4 bins past the data
    // window (Kusto's documented forecast usage): components fit on the
    // 12 training bins, baseline extrapolated over all 16 (the tail IS
    // the forecast), residual null on the tail.
    "q138_kql_text_series_forecast" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series n = count() default = 0 on ts from datetime(2024-01-03) to datetime(2024-02-04) step 2d by event_type
          | | extend (b, se, tr, r) = series_decompose_forecast(n, 4, 4, 'linefit')
          | | mv-expand with_itemindex=i b to typeof(real), se to typeof(real), tr to typeof(real), r to typeof(real)
          | | project event_type, i, b = round(b, 6), se = round(se, 6), tr = round(tr, 6), r = round(r, 6)
          | | order by event_type asc, i asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // join kind=innerunique — Kusto's DEFAULT join kind: the left side
    // dedups to one row per key BEFORE the inner join. Kusto keeps an
    // arbitrary row; this engine pins the minimum full row (take_any
    // stance) so results are reproducible and oracle-comparable. The
    // dedup aggregate shuffles on the join key, so its exchange feeds
    // the join directly — one shuffle serves both.
    "q139_kql_text_innerunique" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'click'
          | | project user_id, event_id, value
          | | join kind=innerunique (events | where event_type == 'purchase' | summarize pn = count() by user_id) on user_id
          | | project user_id, event_id, pn
          | | order by user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 8: the ipv4 family (parse_ipv4 with prefix masking,
    // ipv4_is_private, ipv4_is_in_range, ipv4_compare), parse_version
    // (canonical DECIMAL(38,0) comparable), parse_url (dynamic JSON
    // structure + postfix access), and format_timespan — all codegen'd
    // string/arithmetic in the scan projection, zero shuffles beyond
    // the final sort.
    "q140_kql_text_scalar8" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend ip = strcat('10.', tostring(user_id % 200), '.', tostring(event_id % 250), '.7')
          | | extend url = strcat('https://h', tostring(user_id % 10), '.example.com:8080/p/', event_type, '?q=', tostring(event_id), '#frag')
          | | extend ipv = parse_ipv4(ip), masked = parse_ipv4(strcat(ip, '/24')),
          |          priv = ipv4_is_private(ip), inr = ipv4_is_in_range(ip, '10.42.0.0/16'),
          |          cmpr = ipv4_compare(ip, '10.100.0.0'),
          |          ver = tostring(parse_version(strcat(tostring(user_id % 4), '.', tostring(event_id % 12), '.5'))),
          |          host = tostring(parse_url(url).Host), path = tostring(parse_url(url).Path),
          |          fts = format_timespan(1h + 23m + 45s, 'hh:mm:ss')
          | | project event_id, ipv, masked, priv, inr, cmpr, ver, host, path, fts
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // reduce by — Kusto's log-pattern miner. Kusto's clustering is
    // proprietary; the engine pins a deterministic rule (documented in
    // the compiler): alphanumeric tokens containing a digit become '*',
    // representative = min source string. One regexp_replace in the
    // scan + one hash aggregate.
    "q141_kql_text_reduce" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | reduce by strcat(event_type, ':', props)
          | | order by Count desc, Pattern asc
          | | take 20""".stripMargin,
        _ => Tables.events(s, dir))),

    // make-graph + graph-match (fixed 2-hop) — Kusto graph semantics
    // over a customer→order→part graph built in KQL. Each hop lowers to
    // ONE hash equi-join of the edge table on the node id — the
    // distributed plan graph pattern-matching needs at 100 TB (no
    // driver-side traversal, no adjacency materialization); node/edge
    // aliases bind as struct columns, so c.node_id / e2.w resolve
    // through the native-struct dot path.
    "q142_kql_text_graph_match" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let E = orders
          |   | project src = strcat('c', tostring(o_custkey)), dst = strcat('o', tostring(o_orderkey)), w = o_totalprice
          |   | union (lineitem | project src = strcat('o', tostring(l_orderkey)), dst = strcat('p', tostring(l_partkey)), w = l_extendedprice);
          | E
          | | make-graph src --> dst
          | | graph-match (c)-[e1]->(o)-[e2]->(p)
          |   where c.node_id startswith 'c' and e2.w > 90000.0
          |   project cust = c.node_id, price = e2.w
          | | summarize n = count(), total = round(sum(price), 4) by cust
          | | order by cust asc""".stripMargin,
        (n: String) => n match {
          case "orders" => Tables.orders(s, dir)
          case "lineitem" => Tables.lineitem(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // graph-match with a variable-length edge `-[e*1..2]->` — bounded
    // path search: one join chain per length, unioned; the binding `e`
    // is the ARRAY of hop edges (array_length(e) = path length). The
    // b-endpoint filter pushes into every chain through Catalyst.
    "q143_kql_text_graph_varlen" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let E = orders
          |   | project src = strcat('c', tostring(o_custkey)), dst = strcat('o', tostring(o_orderkey)), w = o_totalprice
          |   | union (lineitem | project src = strcat('o', tostring(l_orderkey)), dst = strcat('p', tostring(l_partkey)), w = l_extendedprice);
          | E
          | | make-graph src --> dst
          | | graph-match (a)-[e*1..2]->(b)
          |   where b.node_id startswith 'p'
          |   project b = b.node_id, hops = array_length(e)
          | | summarize n1 = countif(hops == 1), n2 = countif(hops == 2) by b
          | | order by b asc
          | | take 200""".stripMargin,
        (n: String) => n match {
          case "orders" => Tables.orders(s, dir)
          case "lineitem" => Tables.lineitem(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // graph-shortest-paths at data scale: single-source BFS distances
    // over the bipartite order↔part graph (edges both directions), ≤4
    // hops from part p1, histogram of min-hop counts. The where clause
    // pins the source so Catalyst pushes it into the first node join of
    // every chain; the winnow is ONE window on the endpoint pair.
    // materialize() persists the deduped PAIR set once across the 4
    // chains. Round 21: the dedup runs over the narrow (l_orderkey,
    // l_partkey) long pairs ONCE and both string directions are
    // projected from the deduped set — strcat∘tostring is injective on
    // longs and the two directions are disjoint by src prefix ('o' vs
    // 'p'), so the edge set is provably identical to distinct-over-
    // union-of-strcats while the distinct's shuffle carries half the
    // rows at a third of the bytes (guide §2.3: narrower types, project
    // before the exchange).
    "q146_kql_text_graph_sssp" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let P = materialize(lineitem | distinct l_orderkey, l_partkey);
          | let E = P
          |   | project src = strcat('o', tostring(l_orderkey)), dst = strcat('p', tostring(l_partkey))
          |   | union (P | project src = strcat('p', tostring(l_partkey)), dst = strcat('o', tostring(l_orderkey)));
          | E
          | | make-graph src --> dst
          | | graph-shortest-paths (a)-[e*1..4]->(b)
          |   where a.node_id == 'p1'
          |   project b = b.node_id, hops = array_length(e)
          | | summarize n = count() by hops
          | | order by hops asc""".stripMargin,
        (n: String) => n match {
          case "lineitem" => Tables.lineitem(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // scalar ring 9: geo family (pinned haversine distance, circle
    // membership, geohash encode — one flat codegen'd expression, IEEE
    // mul/div bit-stable across engines) + sorted bag_keys. Coordinates
    // synthesized from integer columns so both engines see identical
    // doubles.
    "q147_kql_text_geo" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = (user_id % 360) - 180 + 0.25, lat = (event_id % 170) - 85 + 0.25
          | | extend d = round(geo_distance_2points(lon, lat, 0.0, 0.0), 3),
          |          inc = geo_point_in_circle(lon, lat, 10.0, 20.0, 5000000.0),
          |          gh = geo_point_to_geohash(lon, lat, 6),
          |          bk = strcat_array(bag_keys(props), ',')
          | | project event_id, d, inc, gh, bk
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // graph-mark-components at data scale over the customer→order star
    // graph: components are per-customer stars (each order has ONE
    // customer), so the oracle needs no recursion — the multi-hop merge
    // algorithm itself is pinned by the chain/diamond spec fixtures and
    // by q41's LSH-pair components. Component id = min node id ('c…' <
    // 'o…' lexicographically, so the customer node labels its star).
    "q149_kql_text_graph_components" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let E = orders
          |   | where o_orderkey % 3 == 0
          |   | project src = strcat('c', tostring(o_custkey)), dst = strcat('o', tostring(o_orderkey));
          | E
          | | make-graph src --> dst
          | | graph-mark-components with_component_id=comp
          | | graph-to-table nodes
          | | summarize n = count() by comp
          | | order by comp asc
          | | take 100""".stripMargin,
        (n: String) => n match {
          case "orders" => Tables.orders(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // bitwise aggregate ring (binary_all_or/and/xor) + format_bytes
    // (integer-math digit formatting, no double-to-string divergence)
    "q150_kql_text_binagg" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend b = tolong(value * 100)
          | | summarize all_or = binary_all_or(b), all_and = binary_all_and(b),
          |             all_xor = binary_all_xor(b), n = count() by event_type
          | | extend fb = format_bytes(all_or * 1000, 1), fb0 = format_bytes(all_and)
          | | project event_type, all_or, all_and, all_xor, n, fb, fb0
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // activity_engagement — the DAU/WAU engagement ratio (inner 1d,
    // outer trailing 7d): one distinct (id, bin) agg, W×-explode on the
    // deduped activity table, two countDistincts, one bin join.
    "q151_kql_text_engagement" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate activity_engagement(user_id, ts, 1d, 7d)
          | | project ts, inner_n = dcount_activities_inner, outer_n = dcount_activities_outer,
          |           ratio = round(activity_ratio, 6)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // session_count — sessions started per day with a 12h look-back:
    // one id-keyed lag window + one bin aggregate.
    "q152_kql_text_session_count" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate session_count(user_id, ts, 1d, 12h)
          | | project ts, count_sessions
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 10: timespan/datetime constructors (totimespan string
    // + unit forms, make_timespan, make_datetime, the unixtime_* epoch
    // family), ipv4 formatting (format_ipv4 / _mask — the inverse of
    // ring 8's parse_ipv4), indexof_regex, base64_decode_toarray (hex
    // round-trip, no UDF) and elementwise array_iff. All codegen'd in
    // the scan projection; zero shuffles beyond the final sort.
    "q153_kql_text_scalar10" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend ts1 = totimespan('1.02:03:04.5'),
          |          ts2 = totimespan(strcat(tostring(user_id % 3), ':30:00')),
          |          ts3 = totimespan('90m'),
          |          mts = make_timespan(1, 2, 3, 4.5),
          |          md = make_datetime(2024, 3, user_id % 25 + 1, 12, 30, 15),
          |          ue = unixtime_seconds_todatetime(1700000000 + user_id),
          |          um2 = unixtime_milliseconds_todatetime(1700000000123),
          |          fip = format_ipv4(167772161 + user_id % 1000),
          |          fmask = format_ipv4_mask(strcat('192.168.', tostring(user_id % 200), '.77'), 24),
          |          ir = indexof_regex(strcat('ab', tostring(user_id % 10), 'x'), '[0-9]'),
          |          barr = tostring(base64_decode_toarray(base64_encode_tostring(event_type))),
          |          aiff = tostring(array_iff(pack_array(true, false, user_id % 2 == 0), pack_array(1, 2, 3), 0))
          | | project event_id, ts1, ts2, ts3, mts, md, ue, um2, fip, fmask, ir, barr, aiff
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // sliding_window_counts — the trailing-window traffic monitor
    // (events + distinct users per day over a 7d lookback): W×-explode
    // per event onto its target bins, one count+dcount agg, zero-filled
    // from a distributed range axis.
    "q156_kql_text_sliding_counts" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate sliding_window_counts(user_id, ts, datetime(2024-01-05), datetime(2024-01-25), 7d, 1d)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // activity_counts_metrics — per-day totals, distinct ids, first-seen
    // ids and the exact running distinct total (cumulative sum of
    // new_dcount over the axis — the only unkeyed window, on ≤1e6 axis
    // rows, never on data).
    "q157_kql_text_activity_metrics" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate activity_counts_metrics(user_id, ts, datetime(2024-01-05), datetime(2024-01-25), 1d)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // rolling_percentile — trailing-4×6h-window median of purchase
    // values: W×-explode + ONE exact percentile agg per bin; bins with
    // an empty trailing window are absent, as in Kusto.
    "q158_kql_text_rolling_pctile" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'purchase'
          | | evaluate rolling_percentile(value, 50, ts, 6h, 4)
          | | project ts, r = round(rolling_50_value, 6)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // new_activity_metrics — the cohort retention/churn matrix: cohort
    // of first-seen ids per day, tracked across every later day. One
    // distinct (id, bin) agg + one id-keyed join + one (from, to) agg;
    // the axis² matrix (capped 1024 bins) is joined small-side.
    "q160_kql_text_retention" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate new_activity_metrics(user_id, ts, datetime(2024-01-05), datetime(2024-01-12), 1d)
          | | project from_ts, to_ts, dcount_new_values, dcount_retained_values, dcount_churn_values,
          |           rr = round(retention_rate, 6), cr = round(churn_rate, 6)
          | | order by from_ts asc, to_ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series ring 4 — vector algebra over make-series output
    // (series_magnitude / dot_product / cosine_similarity, sequential
    // IEEE folds), standalone series_seasonal (per-phase medians) and
    // the recursive series_iir filter (y_i = x_i + 0.5·y_{i−1} here).
    // All map-only array lambdas above the one make-series shuffle.
    "q162_kql_text_series4" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series v = count() default = 0 on ts from datetime(2024-01-01) to datetime(2024-01-29) step 1d by event_type
          | | extend season = series_seasonal(v, 7),
          |          yy = series_iir(v, pack_array(1.0), pack_array(1.0, -0.5))
          | | project event_type,
          |           mag = round(series_magnitude(v), 6),
          |           smag = round(series_magnitude(season), 6),
          |           dp = round(series_dot_product(v, season), 6),
          |           cs = round(series_cosine_similarity(v, season), 6),
          |           last_iir = round(todouble(yy[27]), 6)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // ipv6 family — canonical-form parse (zero-padded lowercase, '::'
    // expansion), three-way compare, prefix matching at bit granularity
    // (whole nibbles by substring + one exact power-of-two division for
    // the partial nibble), plus ipv4_is_match. All codegen'd string
    // algebra in the scan projection.
    "q163_kql_text_ipv6" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend h = tohex(user_id % 65536)
          | | extend ip6 = strcat('2001:db8::', h)
          | | extend canon = parse_ipv6(ip6),
          |          cmp = ipv6_compare(ip6, '2001:db8::8000'),
          |          m1 = ipv6_is_match(ip6, '2001:db8::/32'),
          |          m2 = ipv6_is_match(ip6, strcat('2001:0db8::', h), 128),
          |          m3 = ipv6_is_match('2001:db9::1', ip6, 30),
          |          m5 = ipv6_is_match('2001:db9::1', ip6, 32),
          |          m4 = ipv4_is_match(strcat('10.0.', tostring(user_id % 200), '.9'), '10.0.128.0/17')
          | | project event_id, canon, cmp, m1, m2, m3, m4, m5
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // parse_xml — XML log payloads → dynamic: build XML from the event
    // row, round-trip through the pinned element→bag mapping (native
    // codegen'd JDK-DOM expression), extract typed fields back out via
    // dynamic paths. Map-only.
    "q165_kql_text_parsexml" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend x = strcat('<row id="', tostring(event_id), '"><u>', tostring(user_id),
          |                     '</u><t>', event_type, '</t><t>x</t><e/></row>')
          | | extend j = parse_xml(x)
          | | extend uid = tostring(j.row.u)
          | | project event_id, j, uid
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // funnel_sequence — what happens immediately before/after every
    // view→click run: one id-keyed window (all lead/lag chains share
    // it), one (bin, prev, next) aggregate.
    "q166_kql_text_funnel_seq" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate funnel_sequence(user_id, ts, datetime(2024-01-01), datetime(2024-01-31), 12h, 1d, event_type, dynamic(['view', 'click']))
          | | order by ts asc, prev asc, next asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 11: parse_path (Kusto key set over both separator
    // styles incl. ADS tails) + parse_urlquery — map-only dynamic
    // constructors in the scan projection.
    "q167_kql_text_scalar11" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend p = strcat('/var/log/app', tostring(user_id % 10), '/events/', event_type, '_', tostring(event_id), '.json')
          | | extend w = strcat('C:\\data\\s', tostring(user_id % 5), '\\f', tostring(event_id), '.csv:zone')
          | | extend q = strcat('https://h.example.com/p?id=', tostring(event_id), '&t=', event_type, '&u=', tostring(user_id))
          | | extend pp = parse_path(p), pw = parse_path(w), uq = parse_urlquery(q)
          | | extend fn = tostring(pp.Filename), ex = tostring(pp.Extension), dn = tostring(pp.DirectoryName),
          |          wr = tostring(pw.RootPath), wa = tostring(pw.AlternateDataStreamName), wf = tostring(pw.Filename),
          |          qid = tostring(uq['Query Parameters'].id), qt = tostring(uq['Query Parameters'].t)
          | | project event_id, fn, ex, dn, wr, wa, wf, qid, qt
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // property-bag mutators — type-preserving Jackson natives (numbers
    // stay numbers through merge/remove/set; first-bag-wins on merge)
    // + extract_json path probe. Map-only.
    "q170_kql_text_bags" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend bag = pack('id', event_id, 'ty', event_type)
          | | extend m = bag_merge(bag, pack('ty', 'x', 'u', user_id))
          | | extend rm = bag_remove_keys(m, dynamic(['id'])),
          |          sk = bag_set_key(bag, 'n', tostring(user_id)),
          |          ej = extract_json('$.ty', bag)
          | | project event_id, m, rm, sk, ej
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // generalized `partition by` — per-key subpipeline rewritten into
    // keyed windows/aggregates (ONE shuffle on the key, never Kusto's
    // legacy per-value subplan loop): filter + extend + order-take per
    // event_type, then a second partition whose summarize groups by
    // (key, band) and drops the injected key (Kusto schema rule).
    "q171_kql_text_partition" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 5 == 0
          | | partition by event_type (
          |     where value >= 5
          |     | extend v2 = round(value * 2.0, 4)
          |     | order by v2 desc, event_id asc
          |     | take 4
          |   )
          | | partition by event_type (
          |     summarize picked = count(), top_v2 = max(v2) by band = event_id % 2
          |   )
          | | order by band asc, picked asc, top_v2 asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // aggregate ring 12 — weighted percentiles (exact nearest-rank
    // pinning), conditional collect forms, null-keeping list, and the
    // sorted-first-wins make_bag merge. One hash aggregate; the
    // percentile folds are post-agg scalar expressions over ONE shared
    // collect_list buffer (integer-valued weights keep every partial
    // sum IEEE-exact, so the DuckDB window-cumsum oracle hash-matches).
    "q172_kql_text_agg_ring12" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 11 == 0
          | | extend band = user_id % 5, w = user_id % 7 + 1
          | | summarize pw = percentilew(value, w, 50),
          |             (p25, p90) = percentilesw(value, w, 25, 90),
          |             st = strcat_array(make_set_if(event_type, value > 50), '|'),
          |             lst = strcat_array(array_sort_asc(make_list_if(tolong(value), value < 10)), '|'),
          |             n_all = array_length(make_list_with_nulls(iff(value > 90, value, real(null)))),
          |             n_val = array_length(make_list(iff(value > 90, value, real(null)))),
          |             mb = make_bag(bag_set_key('{}', event_type, '1'))
          |   by band
          | | order by band asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate ipv4_lookup — distributed longest-prefix-match CIDR
    // join: distinct prefix lengths broadcast-cross the probe (4 lens
    // here), (len, net)-keyed broadcast join, probe-row-keyed window
    // keeps the winner. The oracle hand-derives the LPM decision tree.
    "q174_kql_text_ipv4_lookup" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let ranges = datatable(network: string, tier: string) [
          |  '10.0.0.0/8', 'all10',
          |  '10.5.0.0/16', 'b5',
          |  '10.5.12.0/24', 'c12',
          |  '10.17.0.0/16', 'b17',
          |  '172.16.0.0/12', 'rfc1918-b'];
          |events
          | | where event_id % 13 == 0
          | | extend ip = strcat('10.', tostring(user_id % 20), '.', tostring(event_id % 30), '.9')
          | | evaluate ipv4_lookup(ranges, ip, network)
          | | summarize n = count() by network, tier
          | | order by network asc""".stripMargin,
        _ => Tables.events(s, dir), java.time.Instant.EPOCH, s)),

    // tdigest sketch ring — build per-(type, band) sketches, roll them
    // up with tdigest_merge (the stored-sketch two-level pattern), then
    // extract percentiles. The sketch is the pinned order-insensitive
    // log-histogram (TdigestAgg Scaladoc), so the DuckDB oracle
    // replicates the bucket math exactly — an APPROXIMATE percentile
    // that is still hash-gated, because the approximation itself is
    // deterministic and spec-pinned.
    "q175_kql_text_tdigest" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend band = user_id % 8
          | | summarize s = tdigest(value) by event_type, band
          | | summarize s = tdigest_merge(s) by event_type
          | | project event_type, p50 = round(percentile_tdigest(s, 50), 6),
          |           p95 = round(percentile_tdigest(s, 95), 6),
          |           p99 = round(percentile_tdigest(s, 99), 6)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // explicit-key join form — `on $left.A == $right.B` (the
    // different-name equi-join Kusto dashboards use against dimension
    // subqueries); leftouter misses keep null right columns. Lowered as
    // a condition join over aliased plans (self-join-safe), Kusto's
    // right-side `1`-suffix dup rule replicated by projection.
    "q177_kql_text_join_explicit" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let dim = events | where value > 100
          |  | summarize mx = round(max(value), 4), n = count() by et = event_type
          |  | where n > 3;
          |events
          | | where event_id % 17 == 0
          | | join kind=leftouter (dim) on $left.event_type == $right.et
          | | summarize rows_ = count(), matched = countif(isnotnull(et)) by event_type, et, mx
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // dcount_intersect — cumulative set intersections from mergeable
    // hll sketches via inclusion-exclusion on union estimates; gated
    // the q104 way: exact intersections + in-tolerance flags hash-match
    // while the sketch estimates stay advisory.
    "q178_kql_text_dcount_intersect" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend band = event_id % 3
          | | summarize h0 = hll(iff(band == 0, user_id, long(null))),
          |             h1 = hll(iff(band == 1, user_id, long(null))),
          |             h2 = hll(iff(band == 2, user_id, long(null))) by event_type
          | | evaluate dcount_intersect(h0, h1, h2)
          | | join kind=inner (
          |     events
          |     | extend band = event_id % 3
          |     | summarize i0 = max(iff(band == 0, 1, 0)), i1 = max(iff(band == 1, 1, 0)),
          |                 i2 = max(iff(band == 2, 1, 0)) by event_type, user_id
          |     | summarize e0 = sum(i0), e01 = sum(i0 * i1), e012 = sum(i0 * i1 * i2) by event_type
          |   ) on event_type
          | | project event_type, e0, e01, e012,
          |           ok0 = iff(abs(todouble(s0) / e0 - 1.0) < 0.1, 1, 0),
          |           ok1 = iff(abs(todouble(s1) / e01 - 1.0) < 0.1, 1, 0),
          |           ok2 = iff(abs(todouble(s2) / e012 - 1.0) < 0.1, 1, 0)
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // row_window_session — the serialized sessionization scalar, keyed
    // through partition-by (one hash shuffle + in-partition sort + one
    // O(1)-state pass, Funnel.rowWindowSession). The 365d max-duration
    // keeps only the idle rule in play so the DuckDB gaps-and-islands
    // oracle is exact; the sequential max-duration rule (no SQL window
    // rewrite exists) is pinned by the hand-computed golden spec.
    "q179_kql_text_row_window_session" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where user_id % 23 == 0
          | | order by user_id asc, ts asc, event_id asc
          | | partition by user_id ( extend s = row_window_session(ts, 365d, 30m) )
          | | summarize n_events = count(), n_sessions = dcount(s) by user_id
          | | order by user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 12: `set` request properties + bin_auto (6h bins
    // aligned to 2024-01-01), hash_many / hash_combine (gated via
    // dcount + order-asymmetry facts, never raw hash values),
    // bag_zip round-trip through extract_json, gettype (incl. the
    // documented gettype(bool)=='int8' legacy quirk), column_ifexists
    // for both an existing and a missing column.
    "q181_kql_text_scalar12" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """set query_bin_auto_size = 6h;
          |set query_bin_auto_at = datetime(2024-01-01);
          |events
          | | where event_id % 11 == 0
          | | extend b = bin_auto(ts),
          |          hm = hash_many(event_type, user_id),
          |          hc = hash_combine(hash(event_type), hash(user_id)),
          |          hr = hash_combine(hash(user_id), hash(event_type)),
          |          bz = bag_zip(pack_array('t', 'u'), pack_array(event_type, tostring(user_id)))
          | | extend zt = tostring(extract_json('$.t', bz)), zu = tolong(extract_json('$.u', bz)),
          |          ty = gettype(value), tb = gettype(value > 0), tt = gettype(ts),
          |          ve = column_ifexists('value', 0.0), mi = column_ifexists('missing_col', -1)
          | | summarize n = count(), dhm = dcount(hm), dhc = dcount(hc),
          |             asym = countif(hc != hr),
          |             zok = countif(zt == event_type and zu == user_id),
          |             vs = round(sum(ve), 4), mis = sum(mi)
          |       by b, ty, tb, tt
          | | order by b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // special-function scalars: gamma/loggamma (Lanczos g=7 vs DuckDB
    // libm, 6dp gate incl. the sin-reflection negative branch) and
    // erf/erfc (A&S 7.1.26 — chosen BECAUSE the oracle can mirror the
    // exact polynomial where DuckDB lacks erf; 9dp gate on the
    // bit-identical Horner form).
    "q182_kql_text_special_fns" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 11 == 0
          | | extend x = (event_id % 7 + 1) / 2.0,
          |          z = (value - 50.0) / 20.0
          | | extend xn = x - 4.2
          | | extend lg = round(loggamma(x), 6), gm = round(gamma(x), 6),
          |          lgn = round(loggamma(xn), 6), gmn = round(gamma(xn), 6),
          |          ef = round(erf(z), 9), ec = round(erfc(z), 9)
          | | project event_id, lg, gm, lgn, gmn, ef, ec
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // punycode family (RFC 3492): encode (ASCII label = label + '-'),
    // round-trip identity, per-label xn-- domain form, malformed
    // decode → null. Goldens cross-checked against Python's punycode
    // codec (PunycodeSpec carries the RFC sample vectors).
    "q183_kql_text_punycode" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend d = strcat(event_type, 'é')
          | | extend p = punycode_from_string(d),
          |          rt = punycode_to_string(punycode_from_string(d)),
          |          pa = punycode_from_string(event_type),
          |          dom = punycode_domain_from_string(strcat(d, '.example.com')),
          |          back = punycode_domain_to_string(punycode_domain_from_string(strcat(d, '.example.com'))),
          |          bad = punycode_to_string('é-x')
          | | project event_id, event_type, p, rt, pa, dom, back, bad
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // externaldata — Kusto's external-table source over spark.read with
    // the declared schema. The fixture is DERIVED (spark.range affine
    // projection, written as headered CSV each run), so the oracle can
    // re-derive identical content from range() without touching the
    // file: the gate checks the full CSV round trip through the
    // operator — schema binding, header skip, type parsing (long/real/
    // bool/datetime), aggregation downstream.
    "q187_kql_text_externaldata" -> ((s, dir) => {
      val fix = externaldataFixtureDir
      s.range(100).selectExpr(
          "id",
          "concat('n', id % 7) AS name",
          "round(id * 1.5 - 20, 1) AS val",
          "id % 3 = 0 AS flag",
          "date_format(timestampadd(HOUR, CAST(id AS INT), timestamp'2024-01-01 00:00:00'), 'yyyy-MM-dd HH:mm:ss') AS ts")
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(fix)
      graft.kql.KqlCompiler.compile(
        s"""externaldata (id:long, name:string, val:real, flag:bool, ts:datetime)
           | ['$fix']
           | with (format='csv', ignoreFirstRecord=true)
           | | summarize n = count(), sv = round(sum(val), 4), nf = countif(flag), mx = max(ts) by name
           | | order by name asc""".stripMargin,
        nm => throw new IllegalArgumentException(nm), java.time.Instant.now(), s)
    }),

    // count-min frequency sketch: per-type sketches + a cm_merge'd
    // global rollup (the two-level path: shard sketches stored, merged
    // at query time without touching raw data), probed per (type,
    // user). The gate checks the count-min CONTRACT — true ≤ estimate
    // ≤ true + 1 + 2%·N — not sketch bytes (the q104 HLL stance):
    // exact counts come from both engines, the bound flags must be
    // uniformly true.
    "q188_kql_text_countmin" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let S = materialize(events | summarize sk = cm_sketch(user_id) by event_type);
          |let m = toscalar(S | summarize mm = cm_merge(sk));
          |let G = events | summarize gcnt = count() by user_id;
          |events
          | | summarize cnt = count() by event_type, user_id
          | | join kind=inner (S) on event_type
          | | join kind=inner (G) on user_id
          | | extend est = cm_estimate(sk, user_id),
          |          gest = cm_estimate(m, user_id),
          |          nt = cm_total(sk)
          | | extend ok = est >= cnt and est <= cnt + 1 + nt / 50,
          |          okm = gest >= gcnt and gest <= gcnt + 1 + cm_total(m) / 50
          | | project event_type, user_id, cnt, gcnt, ok, okm
          | | order by event_type asc, user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 13: unicode code points (supplementary-exact natives,
    // round-tripped + invalid→null), toguid normalization (brace strip,
    // lowercase, malformed→null), regex_quote (portable backslash
    // escaping), parse_ipv6_mask (canonical 8-group hex mask
    // arithmetic at byte-, mid-nibble- and zero prefixes).
    "q190_kql_text_scalar13" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend h = hash_md5(event_type)
          | | extend ip = strcat(substring(h,0,4),':',substring(h,4,4),':',substring(h,8,4),':',substring(h,12,4),':',substring(h,16,4),':',substring(h,20,4),':',substring(h,24,4),':',substring(h,28,4))
          | | extend m64 = parse_ipv6_mask(ip, 64), m35 = parse_ipv6_mask(ip, 35), m0 = parse_ipv6_mask(ip, 0)
          | | extend cp = unicode_codepoints_from_string(strcat(event_type, 'é')),
          |          rt = unicode_codepoints_to_string(cp),
          |          bad = unicode_codepoints_to_string(pack_array(65, 1114112))
          | | extend g = toguid(strcat('{', substring(h,0,8), '-', substring(h,8,4), '-', substring(h,12,4), '-', substring(h,16,4), '-', substring(h,20,12), '}')),
          |          gbad = toguid('not-a-guid'),
          |          rq = regex_quote(strcat(event_type, '.*[a]'))
          | | project event_id, ip, m64, m35, m0, cps = tostring(cp), rt, bad, g, gbad, rq
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_pearson_correlation over two make-series outputs — the
    // series-level correlation scalar (count vs value-sum per 2d bin).
    "q191_kql_text_series_pearson" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series c = count() default = 0, s = sum(value) default = 0 on ts from datetime(2024-01-03) to datetime(2024-01-27) step 2d by event_type
          | | extend r = round(series_pearson_correlation(c, s), 6)
          | | project event_type, r
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // compression scalars: zlib compress bytes are canonical (Java
    // Deflater IS zlib, matching the Python-generated goldens);
    // gzip gated on decode + round-trip (headers carry OS/mtime);
    // malformed decompress is null.
    "q203_kql_text_compression" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend payload = strcat(event_type, ' payload')
          | | extend zc = zlib_deflate_compress_to_base64_string(payload),
          |          zrt = zlib_deflate_decompress_from_base64_string(zlib_deflate_compress_to_base64_string(payload)),
          |          grt = gzip_decompress_from_base64_string(gzip_compress_to_base64_string(payload)),
          |          zg = zlib_deflate_decompress_from_base64_string(case(
          |                 event_type == 'click', 'eJxLzslMzlYoSKzMyU9MAQAjHgUR',
          |                 event_type == 'view', 'eJwry0wtVyhIrMzJT0wBAB8OBMY=',
          |                 event_type == 'purchase', 'eJwrKC1KzkgsTlUoSKzMyU9MAQA3GgZm',
          |                 event_type == 'signup', 'eJwrzkzPKy1QKEiszMlPTAEAKpMFoQ==',
          |                 'eJxLLSrKL1IoSKzMyU9MAQAkmgU1')),
          |          gg = gzip_decompress_from_base64_string(case(
          |                 event_type == 'click', 'H4sIAAAAAAAAA0vOyUzOVihIrMzJT0wBABEOXHgNAAAA',
          |                 event_type == 'view', 'H4sIAAAAAAAAAyvLTC1XKEiszMlPTAEA0/wBHgwAAAA=',
          |                 event_type == 'purchase', 'H4sIAAAAAAAAAysoLUrOSCxOVShIrMzJT0wBAFAjhiwQAAAA',
          |                 event_type == 'signup', 'H4sIAAAAAAAAAyvOTM8rLVAoSKzMyU9MAQBiXU5WDgAAAA==',
          |                 'H4sIAAAAAAAAA0stKsovUihIrMzJT0wBAAW4GKoNAAAA')),
          |          bad = zlib_deflate_decompress_from_base64_string('not-base64!!'),
          |          bad2 = gzip_decompress_from_base64_string('AAAA')
          | | project event_id, zc, zrt, grt, zg, gg, bad, bad2
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // basic math ring (round 14): exp/log families, sqrt/pow, trig +
    // inverse trig, pi/degrees/radians, sign, isascii — the everyday
    // Kusto scalars, all lowering to Spark's codegen'd math Columns.
    // 9dp round gate: JDK StrictMath-adjacent libm vs DuckDB libm agree
    // within 1 ulp, far inside the grid (the q182 gamma/erf stance).
    "q206_kql_text_mathring" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 11 == 0
          | | extend x = (todouble(event_id % 160) - 80.0) / 20.0, p = (event_id % 7 + 1) / 2.0
          | | extend e = round(exp(x), 6), e2 = round(exp2(x), 6), e10 = round(exp10(x / 10.0), 6),
          |          ln = round(log(p), 6), l2 = round(log2(p), 6), l10 = round(log10(p), 6),
          |          sq = round(sqrt(p), 9), pw = round(pow(p, 2.5), 6),
          |          sn = round(sin(x), 6), cs = round(cos(x), 6), tn = round(tan(x), 6),
          |          asn = round(asin(sin(x)), 6), acs = round(acos(sin(x)), 6),
          |          at = round(atan(x), 6), at2 = round(atan2(x, p), 6),
          |          ct = round(cot(0.5 + (event_id % 3)), 6),
          |          dg = round(degrees(x), 6), rd = round(radians(value), 9),
          |          pp = round(pi(), 9), sg = sign(x),
          |          ia = isascii(event_type), ib = isascii(strcat(event_type, 'é'))
          | | project event_id, e, e2, e10, ln, l2, l10, sq, pw, sn, cs, tn,
          |           asn, acs, at, at2, ct, dg, rd, pp, sg, ia, ib
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // parse_csv (round 14): RFC 4180 single-record split as one
    // codegen'd native — quoted fields keep commas, "" escapes a
    // literal quote. The CSV line is DERIVED from event columns, so
    // the oracle reconstructs the expected fields directly and the
    // gate checks the parser's quote handling against constructible
    // truth.
    "q207_kql_text_parsecsv" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend line = strcat(event_type, ',', '"a,', tostring(user_id), '""q"', ',', tostring(event_id), ',trail,')
          | | extend f = parse_csv(line)
          | | project event_id, n = array_length(f),
          |           f0 = tostring(f[0]), f1 = tostring(f[1]),
          |           f2 = tolong(f[2]), f3 = tostring(f[3]), f4 = tostring(f[4])
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_fft / series_ifft (round 14): any-length DFT — the
    // make-series axis here is 15 bins, NOT a power of two, so the
    // data-scale path exercises Bluestein. Gated through exact
    // invariants the oracle can compute without an FFT: the DC bin is
    // the series sum (= windowed sum of value per type), the DC
    // imaginary part is 0, Parseval ties spectrum power to signal
    // power, and ifft∘fft is the identity.
    "q210_kql_text_fft" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | make-series s = sum(value) default = 0.0 on ts from datetime(2024-01-01) to datetime(2024-01-31) step 2d by event_type
          | | extend (fr, fi) = series_fft(s)
          | | extend (br, bi) = series_ifft(fr, fi)
          | | extend n = array_length(s),
          |          dc = round(fr[0], 4),
          |          dci = round(fi[0], 6),
          |          par = round(series_sum(series_multiply(s, s)) - series_sum(series_add(series_multiply(fr, fr), series_multiply(fi, fi))) / n, 3),
          |          rt = round(series_sum(series_abs(series_subtract(s, br))), 6),
          |          rti = round(series_sum(series_abs(bi)), 6)
          | | project event_type, n, dc, dci, par, rt, rti
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar ring 14b (round 14): estimate_data_size (*-form and
    // explicit columns, pinned per-type sizes), IANA zone conversion
    // pair (DST-free zones so the round trip is unambiguous), and
    // array_iif with scalar broadcast + short-branch nulls.
    "q221_kql_text_scalar14b" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 61 == 0
          | | extend eds = estimate_data_size(*), eds2 = estimate_data_size(event_type, value)
          | | extend lc = datetime_utc_to_local(ts, 'Asia/Kolkata'),
          |          rt = datetime_local_to_utc(datetime_utc_to_local(ts, 'Asia/Tokyo'), 'Asia/Tokyo') == ts,
          |          ai = tostring(array_iif(pack_array(1, 0, user_id % 2), pack_array(10, 20, 30), 0)),
          |          ai2 = tostring(array_iif(pack_array(true, true), pack_array(7), 5))
          | | project event_id, eds, eds2, lc, rt, ai, ai2
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // rank_tdigest (round 14): the ≤-count sketch rank read. Probe
    // values are powers of ten (well beyond bucket resolution), so the
    // oracle states ranks exactly: mid probe = count of pv ≤ 50, hi
    // probe = group size, lo probe below the minimum = 0.
    "q222_kql_text_rank_tdigest" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend pv = pow(10.0, user_id % 4)
          | | summarize s = tdigest(pv), n = count() by event_type
          | | extend r50 = rank_tdigest(s, 50.0), rhi = rank_tdigest(s, 1000000.0), rlo = rank_tdigest(s, 0.5)
          | | project event_type, n, r50, rhi, rlo
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // graph-mark-components kind=strong at data scale (round 15): a
    // DIRECTED graph where strong ≠ weak components. Per customer, its
    // sampled orders form a bidirectional star on the min orderkey
    // (k⇄m), so each customer's order set is ONE SCC anchored at m;
    // every order also points ONE-WAY at hub node -1 (below every
    // orderkey) — weakly that fuses the whole graph into a single
    // component, strongly the hub is a lone sink SCC and the
    // per-customer SCCs stay separate, so the gate fails if direction
    // is ever dropped. Oracle needs no recursion: SCC(customer) = its
    // sampled-order count, comp = min orderkey; hub = (-1, 1).
    "q223_kql_text_graph_scc" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let O = orders | where o_orderkey % 7 == 0 | project k = o_orderkey, c = o_custkey;
          | let M = O | summarize m = min(k) by c;
          | let A = O | join kind=inner (M) on c | where k != m | project src = k, dst = m;
          | let B = O | join kind=inner (M) on c | where k != m | project src = m, dst = k;
          | let H = O | project src = k, dst = tolong(-1);
          | A
          | | union (B)
          | | union (H)
          | | make-graph src --> dst
          | | graph-mark-components kind=strong with_component_id=comp
          | | graph-to-table nodes
          | | summarize n = count() by comp
          | | order by comp asc""".stripMargin,
        (n: String) => n match {
          case "orders" => Tables.orders(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // geo ring 4 (round 15): cell neighbors (geohash 8-cell with pole
    // drops, s2 same-level with cross-face wrap) + centroids. Gated by
    // invariants the oracle states: neighbor counts, self-exclusion,
    // adjacency distance bounds, and exact-by-construction centroids
    // (single-segment midpoint, unit-square center) within 1e-9.
    "q229_kql_text_geo4" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = todouble(user_id % 340) - 170.0 + 0.25, lat = todouble(event_id % 160) - 80.0 + 0.25
          | | extend gh = geo_point_to_geohash(lon, lat, 5), s2 = geo_point_to_s2cell(lon, lat, 10)
          | | extend ghn = geo_geohash_neighbors(gh), s2n = geo_s2cell_neighbors(s2)
          | | extend lc = geo_line_centroid(strcat('{"type":"LineString","coordinates":[[', tostring(lon), ',', tostring(lat), '],[', tostring(lon + 2.0), ',', tostring(lat), ']]}')),
          |          pc = geo_polygon_centroid(strcat('{"type":"Polygon","coordinates":[[[', tostring(lon), ',', tostring(lat), '],[', tostring(lon + 1.0), ',', tostring(lat), '],[', tostring(lon + 1.0), ',', tostring(lat + 1.0), '],[', tostring(lon), ',', tostring(lat + 1.0), '],[', tostring(lon), ',', tostring(lat), ']]]}'))
          | | extend ghn_ok = array_length(ghn) == 8 and array_index_of(ghn, gh) < 0,
          |          s2_ok = array_length(s2n) >= 7 and array_length(s2n) <= 8 and array_index_of(s2n, s2) < 0,
          |          lc_ok = abs(todouble(lc.coordinates[0]) - (lon + 1.0)) < 0.000000001
          |                  and abs(todouble(lc.coordinates[1]) - lat) < 0.000000001,
          |          pc_ok = abs(todouble(pc.coordinates[0]) - (lon + 0.5)) < 0.000000001
          |                  and abs(todouble(pc.coordinates[1]) - (lat + 0.5)) < 0.000000001
          | | summarize n = count(), ghs = countif(ghn_ok), s2s = countif(s2_ok),
          |             lcs = countif(lc_ok), pcs = countif(pc_ok)""".stripMargin,
        _ => Tables.events(s, dir))),

    // convex-clip intersection (round 15): a per-row rect-with-hole
    // subject clipped by a fixed window. The clipped shape's bounds are
    // interval arithmetic, so DuckDB re-derives the engine's spherical
    // area term-by-term (the q220 Chamberlain–Duquette replication —
    // vertical edges contribute exactly 0, horizontal splits telescope
    // to ulps; area reported in 10^3 km² keeps |value|·10^decimals
    // inside the rounding rule) and membership of the overlap center by
    // interval logic (offset analysis: the center never lands on a hole
    // boundary). Empty overlaps are null through area/inm.
    "q241_kql_text_clip" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 30) - 15.0 + 0.25, py = todouble(event_id % 20) - 10.0 + 0.25
          | | extend sub = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py), ']],[[', tostring(px + 2.0), ',', tostring(py + 2.0), '],[', tostring(px + 4.0), ',', tostring(py + 2.0), '],[', tostring(px + 4.0), ',', tostring(py + 4.0), '],[', tostring(px + 2.0), ',', tostring(py + 4.0), '],[', tostring(px + 2.0), ',', tostring(py + 2.0), ']]]}'),
          |          win = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,8.0],[0.0,8.0],[0.0,0.0]]]}'
          | | extend c = geo_intersection_2polygons(sub, win)
          | | extend cx1 = max_of(px, 0.0), cx2 = min_of(px + 8.0, 10.0),
          |          cy1 = max_of(py, 0.0), cy2 = min_of(py + 6.0, 8.0)
          | | project event_id, px, py,
          |           isn = isnull(c),
          |           area = round(geo_polygon_area(c) / 1000000000.0, 3),
          |           inm = coalesce(geo_point_in_polygon((cx1 + cx2) / 2.0, (cy1 + cy2) / 2.0, c), false)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_intersection_line_with_polygon at data scale (round 16): a
    // horizontal 16°-span line (crossing parameters land on exact
    // binary fractions, so the clipped endpoints are exact lattice
    // points) through the q241 rect-with-hole — through the hole band
    // it clips to TWO chains, above the hole to one; the oracle
    // restates the chain lengths with the same haversine at constant
    // latitude and the interval crossings, bitwise.
    "q250_kql_text_line_clip" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 30) - 15.0 + 0.25, py = todouble(event_id % 20) - 10.0 + 0.25
          | | extend sub = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py), ']],[[', tostring(px + 2.0), ',', tostring(py + 2.0), '],[', tostring(px + 4.0), ',', tostring(py + 2.0), '],[', tostring(px + 4.0), ',', tostring(py + 4.0), '],[', tostring(px + 2.0), ',', tostring(py + 4.0), '],[', tostring(px + 2.0), ',', tostring(py + 2.0), ']]]}'),
          |          lmid = strcat('{"type":"LineString","coordinates":[[', tostring(px - 4.0), ',', tostring(py + 3.0), '],[', tostring(px + 12.0), ',', tostring(py + 3.0), ']]}'),
          |          ltop = strcat('{"type":"LineString","coordinates":[[', tostring(px - 4.0), ',', tostring(py + 5.0), '],[', tostring(px + 12.0), ',', tostring(py + 5.0), ']]}'),
          |          lout = strcat('{"type":"LineString","coordinates":[[', tostring(px - 4.0), ',', tostring(py + 6.5), '],[', tostring(px + 12.0), ',', tostring(py + 6.5), ']]}')
          | | extend cmid = geo_intersection_line_with_polygon(lmid, sub),
          |          ctop = geo_intersection_line_with_polygon(ltop, sub)
          | | project event_id,
          |           two = cmid startswith '{"type":"MultiLineString"',
          |           parts = countof(cmid, '],['),
          |           lmidm = round(geo_line_length(cmid), 3),
          |           one = ctop startswith '{"type":"LineString"',
          |           ltopm = round(geo_line_length(ctop), 3),
          |           miss = isnull(geo_intersection_line_with_polygon(lout, sub))
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_union_polygons_array at data scale (round 16): three per-row
    // rectangles — two overlapping transversally (.25 vs .75 lattice),
    // one disjoint — folded left-to-right; the area oracle is 3-way
    // inclusion-exclusion over the CD rectangle terms, membership by
    // intervals, and the disjoint member forces a MultiPolygon.
    "q251_kql_text_union_array" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 30) - 15.0 + 0.25, py = todouble(event_id % 20) - 10.0 + 0.25
          | | extend r1 = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 4.0), ',', tostring(py), '],[', tostring(px + 4.0), ',', tostring(py + 4.0), '],[', tostring(px), ',', tostring(py + 4.0), '],[', tostring(px), ',', tostring(py), ']]]}'),
          |          r2 = strcat('{"type":"Polygon","coordinates":[[[', tostring(px + 2.5), ',', tostring(py + 1.5), '],[', tostring(px + 6.5), ',', tostring(py + 1.5), '],[', tostring(px + 6.5), ',', tostring(py + 5.5), '],[', tostring(px + 2.5), ',', tostring(py + 5.5), '],[', tostring(px + 2.5), ',', tostring(py + 1.5), ']]]}'),
          |          r3 = strcat('{"type":"Polygon","coordinates":[[[', tostring(px + 8.25), ',', tostring(py + 0.25), '],[', tostring(px + 9.25), ',', tostring(py + 0.25), '],[', tostring(px + 9.25), ',', tostring(py + 1.25), '],[', tostring(px + 8.25), ',', tostring(py + 1.25), '],[', tostring(px + 8.25), ',', tostring(py + 0.25), ']]]}')
          | | extend u = geo_union_polygons_array(pack_array(r1, r2, r3))
          | | project event_id,
          |           multi = u startswith '{"type":"MultiPolygon"',
          |           ua = round(geo_polygon_area(u) / 1000000000.0, 3),
          |           m1 = geo_point_in_polygon(px + 1.0, py + 1.0, u),
          |           m2 = geo_point_in_polygon(px + 6.0, py + 5.0, u),
          |           m3 = geo_point_in_polygon(px + 8.75, py + 0.75, u),
          |           gap = geo_point_in_polygon(px + 7.25, py + 0.75, u)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scan STATE REFERENCES at data scale (round 17): the single-step
    // non-additive accumulator — a running max seeded from the declared
    // default through `iff(value > s1.mx, …)`. Exercises the stateful
    // machine's new-sequence default seeding and per-extend live-state
    // assignment; no arithmetic beyond comparison, so doubles compare
    // bit-exact against the window-max oracle.
    "q252_kql_text_scan_state_max" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | order by ts asc, event_id asc
          | | scan declare (mx: real = 0.0) with (
          |     step s1: isnotnull(value) => mx = iff(value > s1.mx, value, s1.mx);
          |   )
          | | project event_id, mx
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // scan state refs, multi-step (round 17): strict odd/even
    // alternation (dense serialize row numbers) makes the promote/
    // extend machine lag-equivalent — every even row's s1 state is the
    // immediately preceding row, whether that odd row STARTED a
    // sequence or greedily EXTENDED one — so the full semantics
    // (capture reads `s1.user_id`, post-move delta `value - s2.v0`,
    // match-id numbering across completions) have an exact SQL oracle.
    "q253_kql_text_scan_state_pairs" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | project event_id, user_id, value
          | | order by event_id asc
          | | serialize rn = row_number()
          | | scan with_match_id=m declare (v0: real = 0.0, gap: real = -1.0) with (
          |     step s1: rn % 2 == 1 => v0 = value;
          |     step s2: rn % 2 == 0 and user_id == s1.user_id => gap = value - s2.v0;
          |   )
          | | project event_id, rn, v0 = round(v0, 6), gap = round(gap, 6) + 0.0, m
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // polygon booleans under DEGENERATE CONTACT (round 18): INTEGER
    // lattice offsets of a 2x2 square against a fixed [0,3]x[0,3]
    // window, so rows hit every contact class — corner-touch,
    // edge-share, partial-edge overlap, containment-with-shared-border,
    // proper overlap, disjoint. The engine's exact-coincidence split/
    // pair rules (GeoBool.scala round 18) must agree with interval
    // inclusion-exclusion: intersection is null exactly when the
    // interval overlap has zero area (touching counts as empty), union
    // area is always |W| + |B| - |W∩B| (Chamberlain–Duquette terms,
    // q241/q243's replication), and membership probes at half-integer
    // points never sit on a boundary.
    "q254_kql_text_polygon_degenerate" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend dx = todouble(user_id % 10) - 4.0, dy = todouble(event_id % 8) - 3.0
          | | extend b = strcat('{"type":"Polygon","coordinates":[[[', tostring(dx), ',', tostring(dy), '],[', tostring(dx + 2.0), ',', tostring(dy), '],[', tostring(dx + 2.0), ',', tostring(dy + 2.0), '],[', tostring(dx), ',', tostring(dy + 2.0), '],[', tostring(dx), ',', tostring(dy), ']]]}'),
          |          w = '{"type":"Polygon","coordinates":[[[0.0,0.0],[3.0,0.0],[3.0,3.0],[0.0,3.0],[0.0,0.0]]]}'
          | | extend i = geo_intersection_2polygons(w, b),
          |          u = geo_union_2polygons(w, b)
          | | project event_id, dx, dy,
          |           isn = isnull(i),
          |           ia = round(geo_polygon_area(i) / 1000000000.0, 3),
          |           ua = round(geo_polygon_area(u) / 1000000000.0, 3),
          |           im = coalesce(geo_point_in_polygon(1.5, 1.5, i), false),
          |           um = geo_point_in_polygon(dx + 0.5, dy + 0.5, u)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // snap-rounding at data scale (round 19): the q254 contact sweep
    // with operand B carried OFF-GRID by 1e-12° on every vertex — the
    // FP-noisy mixed-provenance case that loudly nulled before the
    // round-19 snap pass. The oracle is IDENTICAL to q254's (the
    // snapped truth): 1e-12 ≪ the 5e-10 half-grid, so the engine must
    // quantize B back to the exact lattice and reproduce every area,
    // null, and membership verdict bit-for-bit.
    "q255_kql_text_polygon_snapround" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend dx = todouble(user_id % 10) - 4.0, dy = todouble(event_id % 8) - 3.0
          | | extend ex = dx + 0.000000000001, ey = dy - 0.000000000001
          | | extend b = strcat('{"type":"Polygon","coordinates":[[[', tostring(ex), ',', tostring(ey), '],[', tostring(ex + 2.0), ',', tostring(ey), '],[', tostring(ex + 2.0), ',', tostring(ey + 2.0), '],[', tostring(ex), ',', tostring(ey + 2.0), '],[', tostring(ex), ',', tostring(ey), ']]]}'),
          |          w = '{"type":"Polygon","coordinates":[[[0.0,0.0],[3.0,0.0],[3.0,3.0],[0.0,3.0],[0.0,0.0]]]}'
          | | extend i = geo_intersection_2polygons(w, b),
          |          u = geo_union_2polygons(w, b)
          | | project event_id, dx, dy,
          |           isn = isnull(i),
          |           ia = round(geo_polygon_area(i) / 1000000000.0, 3),
          |           ua = round(geo_polygon_area(u) / 1000000000.0, 3),
          |           im = coalesce(geo_point_in_polygon(1.5, 1.5, i), false),
          |           um = geo_point_in_polygon(dx + 0.5, dy + 0.5, u)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_simplify_polygons_array at data scale (round 16): per-row
    // pair of rectangles sharing an edge that carries a super-tolerance
    // bump — the bump must survive IDENTICALLY in both outputs (the
    // joint guarantee) while a sub-tolerance noise vertex on an
    // unshared edge collapses; membership at the bump probe splits
    // A/B with no sliver. Oracle: constructible counts + membership.
    // The grid sits NORTH of the equator: for a rect straddling it the
    // low-latitude noise vertex is genuinely FARTHEST from the long
    // spherical chord (cos-lat advantage) and the DP correctly keeps
    // it — off-equator, |lat| orders monotonically along each edge and
    // sub-tolerance noise always collapses.
    "q249_kql_text_joint_simplify" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 30) - 15.0 + 0.25, py = todouble(event_id % 20) + 2.25
          | | extend a = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 4.0), ',', tostring(py), '],[', tostring(px + 4.02), ',', tostring(py + 1.5), '],[', tostring(px + 4.0), ',', tostring(py + 3.0), '],[', tostring(px), ',', tostring(py + 3.0), '],[', tostring(px + 0.000001), ',', tostring(py + 1.5), '],[', tostring(px), ',', tostring(py), ']]]}'),
          |          b = strcat('{"type":"Polygon","coordinates":[[[', tostring(px + 4.0), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py + 3.0), '],[', tostring(px + 4.0), ',', tostring(py + 3.0), '],[', tostring(px + 4.02), ',', tostring(py + 1.5), '],[', tostring(px + 4.0), ',', tostring(py), ']]]}')
          | | extend r = geo_simplify_polygons_array(pack_array(a, b), 500.0)
          | | extend sa = tostring(r[0]), sb = tostring(r[1])
          | | extend bkey = strcat('[', tostring(px + 4.02), ',', tostring(py + 1.5), ']')
          | | project event_id,
          |           na = countof(sa, '['), nb = countof(sb, '['),
          |           bump_both = (sa contains bkey) and (sb contains bkey),
          |           noise_gone = not(sa contains tostring(px + 0.000001)),
          |           am = geo_point_in_polygon(px + 4.01, py + 1.5, sa),
          |           bm = geo_point_in_polygon(px + 4.01, py + 1.5, sb)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_line_buffer at data scale (round 16): the buffer's membership
    // must agree with the EXACT point-to-line distance everywhere
    // outside a ±450 m ambiguity band around the radius (polygonization
    // tolerance 50 m ≪ band; the equator frame makes planar-vs-
    // spherical drift sub-mm). The probe grid brackets the +20°
    // endpoint so straight sides AND the round end cap are both
    // exercised; the oracle recomputes d with the q227 bit-stable
    // ladder and states the same counts.
    "q244_kql_text_line_buffer" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 11 == 0
          | | extend px = todouble(user_id % 168) * 0.005 + 19.58 + 0.0005,
          |          py = (todouble(event_id % 120) - 60.0) * 0.005 + 0.0005
          | | extend line = '{"type":"LineString","coordinates":[[-20.0,0.0],[20.0,0.0]]}'
          | | extend buf = geo_line_buffer(line, 9000.0, 50.0)
          | | extend d = geo_distance_point_to_line(px, py, line)
          | | extend band = abs(d - 9000.0) < 450.0,
          |          inb = geo_point_in_polygon(px, py, buf)
          | | summarize n = count(), nb = countif(band),
          |             agree = countif(band or inb == (d < 9000.0)),
          |             inn = countif(inb and not(band)),
          |             bufok = countif(isnotnull(buf))""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_line_lookup at data scale (round 16): the LAST geo plugin —
    // per-row points join dim lines within 9 km via the level-8 line
    // covering expanded with cell neighbors (completeness: radius ≪
    // level-8 min cell width), refined by the EXACT spherical
    // point-to-line distance. Two crossing lines make multi-match rows;
    // return_unmatched keeps misses with a null name. The oracle
    // restates both distances with the q227 ladder — no band needed,
    // the refine is bitwise.
    "q245_kql_text_line_lookup" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let lns = datatable(lname: string, l: string)[
          |  'h', '{"type":"LineString","coordinates":[[-20.0,0.0],[20.0,0.0]]}',
          |  'v', '{"type":"LineString","coordinates":[[19.9,-0.5],[19.9,0.5]]}'];
          |events
          | | where event_id % 11 == 0
          | | extend px = todouble(user_id % 168) * 0.005 + 19.58 + 0.0005,
          |          py = (todouble(event_id % 120) - 60.0) * 0.005 + 0.0005
          | | evaluate geo_line_lookup(lns, l, px, py, 9000.0, return_unmatched = true)
          | | summarize n = count(), hs = countif(lname == 'h'), vs = countif(lname == 'v'),
          |             misses = countif(isnull(lname))""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_polygon_buffer at data scale (round 16): same band invariant
    // against geo_distance_point_to_polygon (0 inside, so inb == d<r is
    // uniform), square with a hole — the hole shrinks by the radius, so
    // probes inside the original hole but within r of its boundary land
    // IN the buffer. Oracle: min over the 8 fixed segments of the q227
    // ladder, 0 when inside by interval logic.
    "q246_kql_text_polygon_buffer" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 11 == 0
          | | extend px = todouble(user_id % 168) * 0.005 - 0.42 + 0.0005,
          |          py = (todouble(event_id % 120) - 60.0) * 0.005 + 0.0005
          | | extend poly = '{"type":"Polygon","coordinates":[[[-0.2,-0.15],[0.2,-0.15],[0.2,0.15],[-0.2,0.15],[-0.2,-0.15]],[[-0.05,-0.04],[0.05,-0.04],[0.05,0.04],[-0.05,0.04],[-0.05,-0.04]]]}'
          | | extend buf = geo_polygon_buffer(poly, 3000.0, 20.0)
          | | extend d = geo_distance_point_to_polygon(px, py, poly)
          | | extend band = abs(d - 3000.0) < 200.0,
          |          inb = geo_point_in_polygon(px, py, buf)
          | | summarize n = count(), nb = countif(band),
          |             agree = countif(band or inb == (d < 3000.0)),
          |             inn = countif(inb and not(band)),
          |             bufok = countif(isnotnull(buf))""".stripMargin,
        _ => Tables.events(s, dir))),

    // general polygon booleans at data scale (round 16): concave ∩ / ∪
    // concave — a per-row L-shaped subject against a fixed L-shaped
    // window (both rectilinear, vertices at .25/.0 offsets so every
    // boundary contact is transversal — the GeoBool general-position
    // subset). The oracle re-derives both areas by inclusion-exclusion
    // over the disjoint rectangle decompositions (L1 = A1⊎A2,
    // L2 = B1⊎B2; ∩ = ΣᵢⱼAᵢ∩Bⱼ, ∪ = |L1|+|L2|−|∩|) with the same
    // Chamberlain–Duquette spherical terms (q241's replication), and
    // membership by interval logic at probe points off every boundary.
    "q243_kql_text_polygon_boolean" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 30) - 15.0 + 0.25, py = todouble(event_id % 20) - 10.0 + 0.25
          | | extend sub = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py), '],[', tostring(px + 8.0), ',', tostring(py + 3.0), '],[', tostring(px + 3.0), ',', tostring(py + 3.0), '],[', tostring(px + 3.0), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py + 6.0), '],[', tostring(px), ',', tostring(py), ']]]}'),
          |          win = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,8.0],[6.0,8.0],[6.0,3.0],[0.0,3.0],[0.0,0.0]]]}'
          | | extend c = geo_intersection_2polygons(sub, win),
          |          u = geo_union_2polygons(sub, win)
          | | project event_id, px, py,
          |           isn = isnull(c),
          |           ia = round(geo_polygon_area(c) / 1000000000.0, 3),
          |           ua = round(geo_polygon_area(u) / 1000000000.0, 3),
          |           im = coalesce(geo_point_in_polygon(8.125, 1.625, c), false),
          |           um = geo_point_in_polygon(px - 0.5, py + 1.5, u)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // tabular `in` at data scale (round 16): the operand (nearly every
    // o_orderkey — ~15k distinct at sf0.01) is far past the 4096
    // literal-`isin` threshold, so membership lowers to an InSubquery
    // semi/existence join with NO driver collect — exercised in all
    // three composition contexts: extend (Project), OR-composed where
    // (Filter), and negation. The oracle restates membership with SQL
    // IN subqueries.
    "q242_kql_text_in_semijoin" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let big = orders | where o_totalprice > 900.0 | project o_orderkey;
          |lineitem
          | | extend hit = l_orderkey in (big), miss = l_orderkey !in (big)
          | | where l_orderkey in (big) or l_quantity >= 25.0
          | | summarize n = count(), hits = countif(hit), misses = countif(miss),
          |             qty = round(sum(l_quantity), 4) by l_returnflag
          | | order by l_returnflag asc""".stripMargin,
        (n: String) => n match {
          case "orders" => Tables.orders(s, dir)
          case "lineitem" => Tables.lineitem(s, dir)
          case other => throw new IllegalArgumentException(other)
        })),

    // polygon lookup (round 15): the spatial-join PLUGIN — per-row
    // points join a dim table of polygons via the level-8 S2 covering
    // (broadcast cell equi-join) with exact even-odd refine. Zones are
    // axis-aligned rectangles (one with a hole) at .25-offset points,
    // so DuckDB states containment by interval logic; return_unmatched
    // keeps misses with a null zone.
    "q239_kql_text_polygon_lookup" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let zones = datatable(zone: string, poly: string)[
          |  'a', '{"type":"Polygon","coordinates":[[[-20.0,-15.0],[-5.0,-15.0],[-5.0,5.0],[-20.0,5.0],[-20.0,-15.0]]]}',
          |  'b', '{"type":"Polygon","coordinates":[[[5.0,0.0],[25.0,0.0],[25.0,15.0],[5.0,15.0],[5.0,0.0]]]}',
          |  'c', '{"type":"Polygon","coordinates":[[[-30.0,8.0],[-22.0,8.0],[-22.0,18.0],[-30.0,18.0],[-30.0,8.0]],[[-28.0,10.0],[-24.0,10.0],[-24.0,14.0],[-28.0,14.0],[-28.0,10.0]]]}'];
          |events
          | | where event_id % 97 == 0
          | | extend lon = todouble(user_id % 60) - 30.0 + 0.25, lat = todouble(event_id % 40) - 20.0 + 0.25
          | | evaluate geo_polygon_lookup(zones, poly, lon, lat, return_unmatched = true)
          | | project event_id, lon, lat, zone
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir),
        java.time.Instant.now(), s)),

    // point buffer (round 15): circle polygons with data-dependent
    // radius/tolerance. The N-gon count replicates in DuckDB from the
    // chord-sagitta formula (nearest |x − ⌈x⌉| across the 12 (rad, tol)
    // combos is 0.02 — ulp-safe); vertices sit exactly at the radius
    // (destination formula, haversine round-trip < 1 mm); membership
    // probed from inside (0.2·r east ≤ inradius) and outside (4·r-deg
    // east ≥ 2.5·r at |lat| ≤ 51).
    "q238_kql_text_point_buffer" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend cx = todouble(user_id % 240) - 120.0 + 0.25, cy = todouble(event_id % 100) - 50.0 + 0.25,
          |          rad = 2000.0 + 1000.0 * todouble(user_id % 3),
          |          tol = 50.0 + 50.0 * todouble(event_id % 4)
          | | extend buf = geo_point_buffer(cx, cy, rad, tol), rdeg = degrees(rad / 6371009.0)
          | | project event_id, rad, tol,
          |           np = countof(buf, '[') - 2,
          |           cin = geo_point_in_polygon(cx, cy, buf),
          |           v0ok = abs(geo_distance_2points(cx, cy, todouble(parse_json(buf).coordinates[0][0][0]), todouble(parse_json(buf).coordinates[0][0][1])) - rad) < 0.001,
          |           nin = geo_point_in_polygon(cx + rdeg * 0.2, cy, buf),
          |           fout = not(geo_point_in_polygon(cx + rdeg * 4.0, cy, buf))
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // line covering (round 15): geo_line_to_s2cells over a per-row
    // two-segment polyline. Invariants DuckDB pins as counts (the q233
    // stance): every vertex cell and exact on-line interior points'
    // cells (dyadic planar interpolations) are members — guaranteed by
    // construction, the containing quad intersects the line; finer
    // level never covers fewer cells; covering is non-trivial. Grid
    // offsets .013 keep points off cell boundaries.
    "q237_kql_text_line_cover" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = todouble(user_id % 340) - 170.0 + 0.013, lat = todouble(event_id % 160) - 80.0 + 0.013
          | | extend line = strcat('{"type":"LineString","coordinates":[[', tostring(lon), ',', tostring(lat), '],[', tostring(lon + 2.0), ',', tostring(lat + 1.0), '],[', tostring(lon + 4.0), ',', tostring(lat), ']]}')
          | | extend cov = geo_line_to_s2cells(line, 8), cov9 = geo_line_to_s2cells(line, 9)
          | | extend v1 = set_has_element(cov, geo_point_to_s2cell(lon, lat, 8)),
          |          v2 = set_has_element(cov, geo_point_to_s2cell(lon + 2.0, lat + 1.0, 8)),
          |          v3 = set_has_element(cov, geo_point_to_s2cell(lon + 4.0, lat, 8)),
          |          m1 = set_has_element(cov, geo_point_to_s2cell(lon + 1.0, lat + 0.5, 8)),
          |          m2 = set_has_element(cov, geo_point_to_s2cell(lon + 0.5, lat + 0.25, 8)),
          |          mono = array_length(cov9) >= array_length(cov),
          |          ne = array_length(cov) >= 2
          | | summarize n = count(), v1s = countif(v1), v2s = countif(v2), v3s = countif(v3),
          |             m1s = countif(m1), m2s = countif(m2), mos = countif(mono), nes = countif(ne)""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo densify (round 15): a 10°-wide parallel segment at a per-row
    // latitude — splitting at the planar midpoint keeps every sub-edge a
    // parallel, so the bisection depth m is uniform and the point count
    // is exactly 2^m + 1. The oracle REPLICATES the midpoint-deviation
    // rule (spherical-midpoint + haversine, engine op order) per
    // halving level and counts levels above tolerance; the nearest
    // |deviation − 100 m| across all (lat, level) pairs is 0.97 m —
    // ulp-safe. Invariants: every point stays on the planar edge
    // (',lat]' count), endpoints preserved, meridians are geodesics
    // (identity), tolerance outside [0.1, 5000] null.
    "q236_kql_text_geo_densify" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend ly = todouble(event_id % 120) - 60.0 + 0.25
          | | extend line = strcat('{"type":"LineString","coordinates":[[0.25,', tostring(ly), '],[10.25,', tostring(ly), ']]}'),
          |          mer = strcat('{"type":"LineString","coordinates":[[3.0,', tostring(ly), '],[3.0,', tostring(ly + 1.0), ']]}')
          | | extend dense = geo_line_densify(line, 100.0)
          | | extend n = countof(dense, '[') - 1, needle = strcat(',', tostring(ly), ']')
          | | project event_id, ly, n,
          |           lat_ok = strlen(dense) - strlen(replace_string(dense, needle, '')) == n * strlen(needle),
          |           ends_ok = indexof(dense, strcat('[[0.25,', tostring(ly), '],')) >= 0 and indexof(dense, strcat(',[10.25,', tostring(ly), ']]}')) >= 0,
          |           tol_null = isnull(geo_line_densify(line, 0.05)),
          |           mer_id = geo_line_densify(mer, 0.5) == mer
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo ring 6 (round 15): intersect predicates + closest-point
    // scalars. The predicates are PLANAR (the even-odd family stance)
    // over dyadic-exact coordinates (offsets .25, integer shape bounds)
    // so orientation signs are IEEE-exact and DuckDB states truth by
    // interval logic: the X-cross pair intersects iff |u| ≤ 2 (touch
    // at |u|=2 counts — shared-point rule), the horizontal line hits
    // the square iff its y sits strictly inside and the x-intervals
    // overlap, rect×rect iff both interval pairs overlap. Closest-point
    // outputs gate by INVARIANTS: dist(P, foot) equals the point-to-
    // shape distance (shared segClosestM/segDistM op order) and the
    // foot lies on the shape; the inside branch echoes the point
    // exactly (double→string→double round trip is exact).
    "q235_kql_text_geo_intersects" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 120) - 60.0 + 0.25, py = todouble(event_id % 80) - 40.0 + 0.25,
          |          u = todouble(event_id % 7) - 3.0
          | | extend line = strcat('{"type":"LineString","coordinates":[[', tostring(px), ',', tostring(py), '],[', tostring(px + 2.0), ',', tostring(py + 2.0), ']]}'),
          |          xline = strcat('{"type":"LineString","coordinates":[[', tostring(px + u), ',', tostring(py + 2.0), '],[', tostring(px + 2.0 + u), ',', tostring(py), ']]}'),
          |          hline = strcat('{"type":"LineString","coordinates":[[', tostring(px), ',', tostring(py), '],[', tostring(px + 6.0), ',', tostring(py), ']]}'),
          |          sq = '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]]]}',
          |          mv = strcat('{"type":"Polygon","coordinates":[[[', tostring(px), ',', tostring(py), '],[', tostring(px + 4.0), ',', tostring(py), '],[', tostring(px + 4.0), ',', tostring(py + 4.0), '],[', tostring(px), ',', tostring(py + 4.0), '],[', tostring(px), ',', tostring(py), ']]]}')
          | | extend q2x = px + 1.75, q2y = py + 0.25, qox = px + 9.0, qoy = py + 2.0
          | | extend cl = parse_json(geo_closest_point_on_line(q2x, q2y, line)),
          |          cin = parse_json(geo_closest_point_on_polygon(px + 2.0, py + 2.0, mv)),
          |          cout = parse_json(geo_closest_point_on_polygon(qox, qoy, mv))
          | | extend clx = todouble(cl.coordinates[0]), cly = todouble(cl.coordinates[1]),
          |          cox = todouble(cout.coordinates[0]), coy = todouble(cout.coordinates[1])
          | | project event_id,
          |           l2 = geo_intersects_2lines(line, xline),
          |           lwp = geo_intersects_line_with_polygon(hline, sq),
          |           pp = geo_intersects_2polygons(mv, sq),
          |           ia = abs(geo_distance_2points(q2x, q2y, clx, cly) - geo_distance_point_to_line(q2x, q2y, line)) < 0.01,
          |           ib = geo_distance_point_to_line(clx, cly, line) < 0.01,
          |           ci = todouble(cin.coordinates[0]) == px + 2.0 and todouble(cin.coordinates[1]) == py + 2.0,
          |           oa = abs(geo_distance_2points(qox, qoy, cox, coy) - geo_distance_point_to_polygon(qox, qoy, mv)) < 0.01,
          |           ob = geo_distance_point_to_polygon(cox, coy, mv) < 0.01
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // stray ring 3 (round 15): the *_dynamic series-fit bags, the
    // given-lag period validator, ordered multi-replace, and bag
    // treepath. Fit inputs are constructed per row from exact small
    // integers (k = user_id%3) so every OLS is IEEE-exact: arr2 is one
    // perfect line (slope 5, icept 3k), arr is two perfect lines split
    // at 4 (left slope 1/icept k; right LOCAL slope 4/icept 10k+12;
    // rsquare 1). series_periods_validate scores given lags with the
    // detector's normalized ACF — the oracle recomputes the sums with
    // DuckDB list lambdas (score ≤ 1, round-6 far above ulp).
    // replace_strings order-sensitivity is pinned by an overlapping
    // pair ('er' before 'e'); treepath runs over both a nested literal
    // and the per-row props bag.
    "q234_kql_text_strays3" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 499 == 0
          | | extend kk = user_id % 3
          | | extend k = todouble(kk)
          | | extend arr = pack_array(k, k + 1.0, k + 2.0, k + 3.0, 10.0 * k + 12.0, 10.0 * k + 16.0, 10.0 * k + 20.0, 10.0 * k + 24.0),
          |          arr2 = pack_array(3.0 * k, 3.0 * k + 5.0, 3.0 * k + 10.0, 3.0 * k + 15.0, 3.0 * k + 20.0, 3.0 * k + 25.0),
          |          arr3 = pack_array(9.0, todouble(kk % 3), todouble((2 * kk) % 3), todouble((3 * kk) % 3), 9.0 + todouble((4 * kk) % 3), todouble((5 * kk) % 3), todouble((6 * kk) % 3), todouble((7 * kk) % 3), 9.0 + todouble((8 * kk) % 3), todouble((9 * kk) % 3), todouble((10 * kk) % 3), todouble((11 * kk) % 3))
          | | extend fl = series_fit_line_dynamic(arr2), f2 = series_fit_2lines_dynamic(arr)
          | | extend (vp, vs) = series_periods_validate(arr3, 4, 6, 200)
          | | project event_id, k,
          |           fl_m = round(todouble(parse_json(fl).slope), 6),
          |           fl_b = round(todouble(parse_json(fl).interception), 6),
          |           fl_r = round(todouble(parse_json(fl).rsquare), 6),
          |           fl_v = round(todouble(parse_json(fl).variance), 6),
          |           f2_sp = tolong(parse_json(f2).split_idx),
          |           f2_r = round(todouble(parse_json(f2).rsquare), 6),
          |           f2_lm = round(todouble(parse_json(f2).left.slope), 6),
          |           f2_lb = round(todouble(parse_json(f2).left.interception), 6),
          |           f2_rm = round(todouble(parse_json(f2).right.slope), 6),
          |           f2_rb = round(todouble(parse_json(f2).right.interception), 6),
          |           f2n = isnull(series_fit_2lines_dynamic(pack_array(1.0, 2.0, 3.0))),
          |           s4 = round(todouble(vs[0]), 6),
          |           s6 = round(todouble(vs[1]), 6),
          |           s200 = round(todouble(vs[2]), 6),
          |           rs = replace_strings(event_type, dynamic(['er', 'e']), dynamic(['ER', '3'])),
          |           rsn = isnull(replace_strings(event_type, dynamic(['a']), dynamic([]))),
          |           tp = strcat_array(treepath(dynamic({"a":{"b":1},"c":[1,2,{"d":3}]})), ';'),
          |           tpd = strcat_array(treepath(parse_json(props)), ';')
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // cell-to-polygon + point-to-polygon distance (round 15): every
    // point lies inside its own cell's boundary polygon (geohash
    // rectangle and s2 quad), and its polygon distance is exactly 0.
    // Grid offsets are 0.013 — never on a dyadic geohash cell edge
    // (1000·lon+13 ≢ 0 mod 5), so even-odd boundary ambiguity can't
    // bite. Oracle states the invariants as counts.
    "q233_kql_text_cell_polygons" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = todouble(user_id % 340) - 170.0 + 0.013, lat = todouble(event_id % 160) - 80.0 + 0.013
          | | extend ghp = geo_geohash_to_polygon(geo_point_to_geohash(lon, lat, 5)),
          |          s2p = geo_s2cell_to_polygon(geo_point_to_s2cell(lon, lat, 10))
          | | extend ghin = geo_point_in_polygon(lon, lat, ghp),
          |          s2in = geo_point_in_polygon(lon, lat, s2p),
          |          dz = geo_distance_point_to_polygon(lon, lat, s2p) == 0.0,
          |          ga = geo_polygon_area(ghp) > 0
          | | summarize n = count(), ghs = countif(ghin), s2s = countif(s2in),
          |             dzs = countif(dz), gas = countif(ga)""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo simplify (round 15): Douglas–Peucker at data scale — per
    // point a 3-vertex line whose midpoint sits ~1.1 m off the chord;
    // 500 m tolerance collapses it to the endpoints, 0.1 m keeps it
    // verbatim. Oracle states both invariants as counts.
    "q232_kql_text_geo_simplify" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 120) - 60.0 + 0.25, py = todouble(event_id % 80) - 40.0 + 0.25
          | | extend line = strcat('{"type":"LineString","coordinates":[[', tostring(px), ',', tostring(py), '],[', tostring(px + 1.0), ',', tostring(py + 0.00001), '],[', tostring(px + 2.0), ',', tostring(py), ']]}')
          | | extend s500 = geo_line_simplify(line, 500.0), s01 = geo_line_simplify(line, 0.1)
          | | extend collapsed = countof(s500, '[') == 3,
          |          kept = countof(s01, '[') == 4
          | | summarize n = count(), coll = countif(collapsed), keeps = countif(kept)""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar user functions + in-subquery + literal lets (round 15):
    // the everyday dashboard composition — a let-bound threshold, a
    // let-bound cohort subquery consumed by `in` (first-column
    // semi-filter, 1M cap), and a scalar lambda applied per row.
    "q231_kql_text_udf_in" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let thresh = 150.0;
          | let topusers = events | summarize s = sum(value) by user_id | where s > thresh | project user_id;
          | let bucket = (v: real) { iff(v >= 100.0, 'big', iff(v >= 10.0, 'mid', 'small')) };
          | events
          | | where user_id in (topusers)
          | | extend b = bucket(value)
          | | summarize n = count(), sv = round(sum(value), 4) by event_type, b
          | | order by event_type asc, b asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo polygon covering join (round 15): the Kusto geo-join pattern
    // end to end — cover the polygon at level 7, candidate-match point
    // cells against the covering, refine with exact point-in-polygon.
    // The oracle states rectangle membership independently; the gate
    // proves the covering is COMPLETE (refined join membership equals
    // the analytic truth — a missing covering cell would drop an
    // interior point) and that candidacy is a superset of membership.
    "q230_kql_text_s2cover_join" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = todouble(user_id % 120) - 60.0 + 0.25, lat = todouble(event_id % 80) - 40.0 + 0.25
          | | extend poly = '{"type":"Polygon","coordinates":[[[-20.0,-15.0],[25.0,-15.0],[25.0,18.0],[-20.0,18.0],[-20.0,-15.0]]]}'
          | | extend cells = geo_polygon_to_s2cells(poly, 7), pc = geo_point_to_s2cell(lon, lat, 7)
          | | extend candidate = array_index_of(cells, pc) >= 0,
          |          truth = geo_point_in_polygon(lon, lat, poly)
          | | extend inside = candidate and truth
          | | summarize n = count(), inside_n = countif(inside),
          |             complete = countif(inside == truth),
          |             superset = countif(candidate or not(truth))""".stripMargin,
        _ => Tables.events(s, dir))),

    // activity_metrics (round 15): the last activity-family plugin —
    // per 1d window the distinct/new id counts and the pinned
    // backward-looking retention/churn pair (|A(t)∩A(t−1)|/|A(t−1)|).
    // Oracle rebuilds the same flags with SQL windows.
    "q228_kql_text_activity_full" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate activity_metrics(user_id, ts, datetime(2024-01-05), datetime(2024-01-25), 1d)
          | | project ts, dcount_values, dcount_newvalues,
          |           rr = round(retention_rate, 6), cr = round(churn_rate, 6)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_distance_point_to_line at data scale (round 15): one fixed
    // equator segment so the oracle can restate the cross-track /
    // along-track spherical formulas term by term in the SAME IEEE op
    // order (the q147/q220 bit-stability stance; round(,3) sits far
    // above ulp noise). The grid spans both clamp branches (|px| > 20)
    // and the interior cross-track branch.
    "q227_kql_text_pt_to_line" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 80) - 40.0 + 0.5, py = todouble(event_id % 60) - 30.0 + 0.5
          | | extend line = '{"type":"LineString","coordinates":[[-20.0,0.0],[20.0,0.0]]}'
          | | extend d = round(geo_distance_point_to_line(px, py, line), 3) + 0.0,
          |          bad = isnull(geo_distance_point_to_line(px, py, 'nope'))
          | | project event_id, px, py, d, bad
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // stray ring 2 (round 15): ipv4/ipv6_is_in_any_range (TRUE-wins
    // null semantics), parse_ipv4_mask (min-prefix composition with an
    // embedded suffix), the guid⇄base64 pair (the .NET byte order the
    // oracle reorders hex pairs to restate), column_ifexists (compile
    // time schema probe — hit and miss), percentile_array_tdigest
    // (array read ≡ scalar reads, gated as a boolean).
    "q226_kql_text_strays2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend ip = strcat('10.', tostring(user_id % 250), '.', tostring(event_id % 256), '.9')
          | | extend hx = strcat('000000000000', tohex(user_id * 65536 + event_id % 65536))
          | | extend g = strcat('aaaaaaaa-bbbb-4ccc-8ddd-', substring(hx, strlen(hx) - 12, 12))
          | | extend ge = base64_encode_fromguid(g)
          | | extend any1 = ipv4_is_in_any_range(ip, '10.0.0.0/9', '10.128.0.0/9'),
          |          any2 = ipv4_is_in_any_range(ip, '192.168.0.0/16', '172.16.0.0/12'),
          |          any3 = isnull(ipv4_is_in_any_range(ip, 'not-an-ip')),
          |          any6 = ipv6_is_in_any_range(strcat('2001:db8:', tostring(user_id % 10), '::1'), '2001:db8::/32', 'fe80::/10'),
          |          m = parse_ipv4_mask(ip, 12),
          |          grt = base64_decode_toguid(ge) == g,
          |          ce = column_ifexists('event_type', 'x'),
          |          cm = column_ifexists('missing_col', 'fallback')
          | | project event_id, any1, any2, any3, any6, m, ge, grt, ce, cm
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo ring 3 (round 15): S2 cells — Kusto's geo join/partition
    // keys. DuckDB can't compute S2 ids, so the gate rides invariants
    // the oracle CAN state (the q218 playbook): token length at a fixed
    // level is a constant of the id layout (level 10 ⇒ 40 trailing zero
    // bits ⇒ 10 stripped nibbles ⇒ 6 chars); every cell center decodes
    // within a level-10 cell radius of its source point and re-encodes
    // to the SAME token (exact-center contract); and level-30 leaves
    // are injective on this grid (points are ≥0.25° apart, leaves are
    // centimeter-scale), so distinct-leaf count equals the exact
    // distinct-point count DuckDB computes independently. The encode
    // itself is pinned by the published face/quadrant vectors in the
    // compiler spec.
    "q225_kql_text_s2cell" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = todouble(user_id % 360) - 180.0 + 0.25, lat = todouble(event_id % 170) - 85.0 + 0.25
          | | extend c10 = geo_point_to_s2cell(lon, lat, 10), c30 = geo_point_to_s2cell(lon, lat, 30)
          | | extend cp = geo_s2cell_to_central_point(c10)
          | | extend rt = geo_point_to_s2cell(todouble(cp.coordinates[0]), todouble(cp.coordinates[1]), 10) == c10,
          |          near = geo_distance_2points(todouble(cp.coordinates[0]), todouble(cp.coordinates[1]), lon, lat) < 25000.0
          | | summarize n = count(), lens = countif(strlen(c10) == 6), rts = countif(rt),
          |             nears = countif(near), cells = dcount(c30),
          |             points = dcount(strcat(tostring(lon), ',', tostring(lat)))
          | | project n, lens, rts, nears, points, bijective = cells == points""".stripMargin,
        _ => Tables.events(s, dir))),

    // scalar stray ring (round 15): replace_regex (capture-ref rewrite
    // through the \N→$N translation, verbatim @'' strings), ceiling
    // (real stays real, long stays long), countof_regex
    // (non-overlapping — the documented contrast with plain countof),
    // to_utf8 (byte array of the UTF-8 encoding; ASCII here so the
    // oracle states bytes as codepoints), parse_ipv6 embedded
    // dotted-IPv4 tail + the loudly-null zone-suffix stance.
    "q224_kql_text_scalar_strays" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend rr = replace_regex(event_type, @'([aeiou])', @'<\1>'),
          |          ce = ceiling(value / 7.0),
          |          cn = ceiling(0.0 - value / 7.0),
          |          cl = ceiling(event_id * 3),
          |          cr = countof_regex(event_type, @'[aeiou]+'),
          |          u8 = strcat_array(to_utf8(event_type), ','),
          |          ip4 = parse_ipv6(strcat('::ffff:10.', tostring(user_id % 200), '.', tostring(event_id % 256), '.7')),
          |          ipz = parse_ipv6('fe80::1%eth0')
          | | project event_id, rr, ce, cn, cl, cr, u8, ip4, ipz
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo ring 2 (round 14): GeoJSON shape scalars. The polygon is a
    // fixed rect-with-hole so DuckDB states point-in-polygon truth by
    // INDEPENDENT range comparisons (points constructed at .5 offsets,
    // never on edges); lengths/perimeter/area replicate the pinned
    // haversine / Chamberlain–Duquette sums term by term in the same
    // fold order (the q147 stance), area reported in km² so rounding
    // sits far above ulp noise.
    "q220_kql_text_geo2" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 97 == 0
          | | extend px = todouble(user_id % 80) - 40 + 0.5, py = todouble(event_id % 60) - 30 + 0.5
          | | extend poly = '{"type":"Polygon","coordinates":[[[-20.0,-15.0],[25.0,-15.0],[25.0,18.0],[-20.0,18.0],[-20.0,-15.0]],[[0.0,0.0],[10.0,0.0],[10.0,8.0],[0.0,8.0],[0.0,0.0]]]}'
          | | extend line = strcat('{"type":"LineString","coordinates":[[', tostring(px), ',', tostring(py), '],[', tostring(px), ',', tostring(py + 2.0), '],[', tostring(px + 3.0), ',', tostring(py + 2.0), ']]}')
          | | extend inp = geo_point_in_polygon(px, py, poly),
          |          llen = round(geo_line_length(line), 3),
          |          per = round(geo_polygon_perimeter(poly), 3),
          |          area = round(geo_polygon_area(poly) / 1000000.0, 3),
          |          badp = isnull(geo_polygon_area('{"type":"Point","coordinates":[1.0,2.0]}')),
          |          badl = isnull(geo_line_length('nope'))
          | | project event_id, px, py, inp, llen, per, area, badp, badl
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // funnel_sequence_completion (round 14): the period-compared
    // completion funnel — per user the greedy-earliest view→click→
    // purchase completion times, counted per (max-period, 7d bin of
    // the sequence start) with one cumulative column per step. Oracle
    // rebuilds the chained earliest times with per-step LEFT-JOIN
    // minima at data scale.
    "q219_kql_text_funnel_completion" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate funnel_sequence_completion(user_id, ts, datetime(2024-01-01), datetime(2025-01-01), 7d, event_type, dynamic(['view', 'click', 'purchase']), dynamic([1h, 1d, 30d]))
          | | order by period asc, ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // geo_geohash_to_central_point (round 14): geohash decode to the
    // GeoJSON cell center. Gated by EXACT round-trip (the center
    // re-encodes to the same hash), half-cell-width distance bounds,
    // the canonical 'ezs42' vector, and the malformed-null path.
    "q218_kql_text_geohash_decode" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 89 == 0
          | | extend lon = (user_id % 360) - 180 + 0.25, lat = (event_id % 170) - 85 + 0.25
          | | extend gh = geo_point_to_geohash(lon, lat, 6)
          | | extend cp = geo_geohash_to_central_point(gh)
          | | extend dlon = todouble(cp.coordinates[0]), dlat = todouble(cp.coordinates[1])
          | | extend ok_lon = abs(dlon - lon) <= 0.0055, ok_lat = abs(dlat - lat) <= 0.0028,
          |          ok_rt = geo_point_to_geohash(dlon, dlat, 6) == gh,
          |          v = tostring(geo_geohash_to_central_point('ezs42')),
          |          bad = isnull(geo_geohash_to_central_point('ez!42'))
          | | project event_id, ok_lon, ok_lat, ok_rt, v, bad
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // buildschema + make_bag_if (round 14): the schema aggregate folds
    // per-row dynamic schemas with the conflict-aware merge; bags built
    // from typed pack() values so the oracle states the expected
    // schema/bag text exactly.
    "q217_kql_text_buildschema" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend d = pack('t', event_type, 'u', user_id, 'v', value)
          | | summarize sc = buildschema(d),
          |             mb = make_bag_if(pack('ty', event_type), value > 50.0)
          |       by event_type
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // percentrank_tdigest (round 14): the inverse sketch read. Gated
    // through EXACT self-inverse contracts: the rank of a bucket
    // representative walks back to the identical representative
    // (double equality — both reads resolve the same bucket), ranks
    // are bounded/monotone, and the rank of the p-th percentile
    // estimate sits within half a bucket's mass of p.
    "q216_kql_text_percentrank" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let S = events | summarize sk = tdigest(value) by event_type;
          |S
          | | extend v50 = percentile_tdigest(sk, 50), v90 = percentile_tdigest(sk, 90)
          | | extend r50 = percentrank_tdigest(sk, v50), r90 = percentrank_tdigest(sk, v90)
          | | extend ok_rt50 = percentile_tdigest(sk, r50) == v50,
          |          ok_rt90 = percentile_tdigest(sk, r90) == v90,
          |          ok_bounds = r50 >= 0.0 and r50 <= 100.0 and r90 >= 0.0 and r90 <= 100.0,
          |          ok_mono = r50 <= r90,
          |          ok_loc50 = abs(r50 - 50.0) <= 3.0,
          |          ok_loc90 = abs(r90 - 90.0) <= 3.0
          | | project event_type, ok_rt50, ok_rt90, ok_bounds, ok_mono, ok_loc50, ok_loc90
          | | order by event_type asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // has_ipv4 family + bag_pack_columns (round 14): delimited valid-IP
    // text scans (lookaround boundaries, one regexp_extract_all) with
    // constructible truth — the log line embeds IPs derived from event
    // columns plus an invalid-octet decoy, so every boolean is known.
    "q215_kql_text_hasipv4" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 31 == 0
          | | extend ip = strcat(tostring(event_id % 250), '.', tostring(user_id % 250), '.7.9')
          | | extend line = strcat('conn from ', ip, ':443 and 10.0.0.', tostring(event_id % 250), ', junk 999.1.2.3 t=', event_type)
          | | extend h1 = has_ipv4(line, ip),
          |          h2 = has_ipv4(line, strcat('10.0.0.', tostring(event_id % 250))),
          |          h3 = has_ipv4(line, '999.1.2.3'),
          |          h4 = has_ipv4(strcat('x', line), ip),
          |          h5 = has_ipv4(strcat('a', ip), ip),
          |          hp = has_ipv4_prefix(line, strcat(tostring(event_id % 250), '.')),
          |          hp2 = has_ipv4_prefix(line, '999.'),
          |          ha = has_any_ipv4(line, '8.8.8.8', ip),
          |          hap = has_any_ipv4_prefix(line, '8.8.', '10.0.0.'),
          |          bp = bag_pack_columns(event_id, event_type)
          | | extend bk = tostring(bag_keys(bp)), bv = tolong(extract_json('$.event_id', bp))
          | | project event_id, h1, h2, h3, h4, h5, hp, hp2, ha, hap, bk, bv
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series_fit_poly (round 14): per-row OLS polynomial fit. The
    // series is an exact quadratic derived from value, so the oracle
    // states the recovered coefficients in closed form (c2=3, c1=2,
    // c0=value), rsquare 1, zero residuals — gating the normal-equation
    // solve at data scale.
    "q214_kql_text_fitpoly" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 29 == 0
          | | extend a = pack_array(value, value + 5.0, value + 16.0, value + 33.0,
          |                         value + 56.0, value + 85.0, value + 120.0, value + 161.0)
          | | extend (rs, co, vr, rv, pf) = series_fit_poly(a, 2)
          | | extend rs = round(rs, 9), c2 = round(co[0], 6), c1 = round(co[1], 6),
          |          c0 = round(co[2], 6), rv = round(rv, 6),
          |          rt = round(series_sum(series_abs(series_subtract(a, pf))), 4)
          | | project event_id, rs, c2, c1, c0, rv, rt
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // ipv4_range_to_cidr_list (round 14): greedy largest-aligned-block
    // covering set (bounded ≤ 64 blocks); the oracle states the
    // expected lists for the derived ranges, incl. a multi-block split,
    // the aligned /24 case, and the inverted-range null path.
    "q213_kql_text_cidr" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 23 == 0
          | | extend cl = tostring(ipv4_range_to_cidr_list('10.0.0.0', '10.0.0.255')),
          |          c2 = tostring(ipv4_range_to_cidr_list(
          |                 strcat('10.', tostring(event_id % 200), '.0.3'),
          |                 strcat('10.', tostring(event_id % 200), '.0.10'))),
          |          c3 = tostring(ipv4_range_to_cidr_list('0.0.0.0', '255.255.255.255')),
          |          cbad = isnull(ipv4_range_to_cidr_list('10.0.0.9', '10.0.0.2')),
          |          cmal = isnull(ipv4_range_to_cidr_list('10.0.0.300', '10.0.1.2'))
          | | project event_id, cl, c2, c3, cbad, cmal
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // unit-conversion family (round 14): length/mass/speed/energy/
    // angle/volume/force factor conversions + affine temperature, with
    // a column-valued from-unit case. The oracle multiplies the SAME
    // IEEE-exact constants (1852.0/3600.0, pi()/180, ...) in the same
    // op order, so results bit-match before the round.
    "q212_kql_text_convert" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 19 == 0
          | | extend lm = round(convert_length(value, 'Mile', 'Kilometer'), 4),
          |          li = round(convert_length(value, 'Foot', 'Inch'), 3),
          |          ms = round(convert_mass(value, 'Pound', 'Gram'), 2),
          |          sp = round(convert_speed(value, 'KilometerPerHour', 'MilePerHour'), 4),
          |          en = round(convert_energy(value, 'KilowattHour', 'Kilocalorie'), 1),
          |          an = round(convert_angle(value, 'Degree', 'Gradian'), 4),
          |          vo = round(convert_volume(value, 'UsGallon', 'Liter'), 4),
          |          fo = round(convert_force(value, 'PoundForce', 'Newton'), 4),
          |          tc = round(convert_temperature(value, 'DegreeFahrenheit', 'DegreeCelsius'), 4),
          |          tk = round(convert_temperature(value, 'DegreeCelsius', 'Kelvin'), 4),
          |          dyn = round(convert_length(value, iff(event_id % 2 == 0, 'Foot', 'Yard'), 'Meter'), 4),
          |          bad = convert_length(value, 'Parsec', 'Meter')
          | | project event_id, lm, li, ms, sp, en, an, vo, fo, tc, tk, dyn, bad
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // statistical ring (round 14): welch_test + beta_cdf/pdf/inv on the
    // regularized incomplete beta (functions/KStat.scala). The oracle
    // mirrors EXACT closed forms the parameters are steered into —
    // I_x(1,b) = 1-(1-x)^b, I_x(a,1) = x^a, symmetry I_x(a,a) +
    // I_{1-x}(a,a) = 1, beta_inv round trip, and welch constructed with
    // equal se and n=2 so df=2 exactly, where P(|T|>t) = 1 - t/sqrt(2+t^2)
    // — so the continued-fraction numerics gate against constructible
    // truth at data scale (KStatSpec pins the nu=1 form and edge cases).
    "q209_kql_text_stat" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 17 == 0
          | | extend xx = min_of(value, 300.0) / 409.7 + 0.0013,
          |          aa = 1.0 + event_id % 5, bb = 2.0 + event_id % 3
          | | extend c1 = round(beta_cdf(xx, 1.0, bb), 7),
          |          c2 = round(beta_cdf(xx, aa, 1.0), 7),
          |          sym = round(beta_cdf(xx, aa, aa) + beta_cdf(1.0 - xx, aa, aa), 9),
          |          rt = round(beta_cdf(beta_inv(xx, aa, bb), aa, bb) - xx, 9),
          |          pd = round(beta_pdf(xx, 2.0, 1.0), 7),
          |          w2 = round(welch_test(value, 8.0, 2.0, value * 0.5, 8.0, 2.0), 7)
          | | project event_id, c1, c2, sym, rt, pd, w2
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // series ring 5 (round 14): reductions (sum/product/min/max/avg —
    // fold identities pinned on empty), element-wise comparison
    // families (bool arrays, scalarized through series_sum so the gate
    // sees scalars), new unary members (atan/floor/ceiling), plus
    // bag_has_key and the constant ipv6_is_in_range forms. All array
    // lambdas — map-only, codegen'd.
    "q208_kql_text_series5" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 13 == 0
          | | extend a = pack_array(value, value + 1.0, value * 0.5, 1.0 + event_id % 3),
          |          b = pack_array(value * 0.75, value, value, 2.0)
          | | extend ssum = round(series_sum(a), 6), sprod = round(series_product(b), 4),
          |          smin = series_min(a), smax = series_max(a), savg = round(series_avg(a), 6),
          |          ngt = series_sum(series_greater(a, b)),
          |          nge = series_sum(series_greater_equals(a, b)),
          |          nlt = series_sum(series_less(a, b)),
          |          nle = series_sum(series_less_equals(a, b)),
          |          neq = series_sum(series_equals(a, b)),
          |          nne = series_sum(series_not_equals(a, b)),
          |          sat = round(series_sum(series_atan(a)), 9),
          |          sfl = series_sum(series_floor(a)), scl = series_sum(series_ceiling(b)),
          |          bh = bag_has_key(pack('k1', value, 'k2', event_type), 'k1'),
          |          bm = bag_has_key(pack('k1', value), 'nope'),
          |          r1 = ipv6_is_in_range('2001:db8::5', '2001:db8::/64'),
          |          r2 = ipv6_is_in_range('2001:db9::5', '2001:db8::/64')
          | | project event_id, ssum, sprod, smin, smax, savg, ngt, nge, nlt, nle,
          |           neq, nne, sat, sfl, scl, bh, bm, r1, r2
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // aggregate ring 15: population stdev/variance, covariance family,
    // and the conditional *if completions (count_distinctif,
    // take_anyif via the MIN pinning, hll_if gated through dcount_hll
    // against the exact conditional distinct).
    "q201_kql_text_agg_ring15" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend band = user_id % 5
          | | summarize sp = round(stdevp(value), 6), vp = round(variancep(value), 6),
          |             cv = round(covariance(value, event_id % 100), 6),
          |             cvp = round(covariancep(value, event_id % 100), 6),
          |             cd = count_distinctif(event_type, value > 50),
          |             ta = take_anyif(event_type, value > 90),
          |             hd = dcount_hll(hll_if(user_id, event_type == 'click')),
          |             xd = count_distinctif(user_id, event_type == 'click')
          |   by band
          | | extend hll_ok = hd == xd
          | | project band, sp, vp, cv, cvp, cd, ta, hll_ok
          | | order by band asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // diffpatterns_text — differential tokens between the English and
    // non-English document slices (threshold 5 percentage points).
    "q197_kql_text_diffpatterns_text" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """documents
          | | evaluate diffpatterns_text(text, lang == 'en', 5.0)
          | | order by diff desc, token asc""".stripMargin,
        name => if (name == "documents") Tables.documents(s, dir)
                else throw new IllegalArgumentException(name))),

    // active_users_count — the sliding-lookback engagement plugin:
    // users with >= 2 distinct active DAYS in the trailing 7d, per 2d
    // report bin over the January window.
    "q196_kql_text_active_users" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | evaluate active_users_count(user_id, ts, datetime(2024-01-03), datetime(2024-01-27), 7d, 1d, 2, 2d)
          | | order by ts asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // parse_user_agent over five real-world UA fixtures (Chrome/
    // Safari/Android-Chrome/Edge/Googlebot): multi-section bag +
    // field extraction. The disambiguation order is the point —
    // Edge UAs contain Chrome/, Chrome UAs contain Safari/.
    "q193_kql_text_user_agent" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_id % 101 == 0
          | | extend ua = case(
          |     event_type == 'click', 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/126.0.6478.127 Safari/537.36',
          |     event_type == 'view', 'Mozilla/5.0 (Macintosh; Intel Mac OS X 13_4) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.5 Safari/605.1.15',
          |     event_type == 'purchase', 'Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/125.0.0.0 Mobile Safari/537.36',
          |     event_type == 'signup', 'Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/126.0.0.0 Safari/537.36 Edg/126.0.2592.87',
          |     'Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)')
          | | extend all = parse_user_agent(ua, dynamic(['browser', 'os', 'device']))
          | | extend bf = tostring(parse_json(all).Browser.Family),
          |          bmaj = tostring(parse_json(all).Browser.MajorVersion),
          |          bmin = tostring(parse_json(all).Browser.MinorVersion),
          |          osf = tostring(parse_json(all).OperatingSystem.Family),
          |          osv = tostring(parse_json(all).OperatingSystem.MajorVersion),
          |          dev = tostring(parse_json(all).DeviceType.Family)
          | | project event_id, event_type, bf, bmaj, bmin, osf, osv, dev
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate rows_near — Kusto's context-window plugin: every error
    // event plus the 2 rows before and 1 row after it in the per-user
    // stream (the incident-context query: "what led up to and followed
    // each error"). One keyed window aggregate; asymmetric window
    // exercises the NumRows/RowsAfter distinction.
    "q180_kql_text_rows_near" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | order by ts asc, event_id asc
          | | evaluate rows_near(event_type == 'error', 2, 1) by user_id
          | | project event_id, user_id, event_type
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // single-step `scan` — Kusto's canonical running-accumulator form:
    // the step consumes every matching record, the additive
    // self-referencing assignment lowers to a running window sum, and a
    // row-only assignment captures the consuming record's own value.
    // Running spend across all >50-value purchases, in stream order.
    "q117_kql_text_scan_running" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'purchase'
          | | order by ts asc, event_id asc
          | | scan declare (total:real = 0.0, last_id:long = 0) with (
          |     step big: value > 50 => total = total + value, last_id = event_id;
          |   )
          | | project event_id, total = round(total, 6), last_id
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate sequence_detect — Kusto's sequence-detection plugin:
    // per-user earliest view→click→purchase chain where consecutive
    // steps land within 12h of each other and the whole chain within 2d
    // of the first step (time-bounded funnel, the plugin's whole point
    // over plain funnel matching).
    "q120_kql_text_seq_detect" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend s1 = event_type == 'view', s2 = event_type == 'click', s3 = event_type == 'purchase'
          | | evaluate sequence_detect(ts, 12h, 2d, s1, s2, s3) by user_id
          | | order by user_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // parse-kv — Kusto's key-value extractor for structured log lines:
    // build kv text from the event row, then round-trip it back out
    // through typed key extraction (each key is one anchored codegen'd
    // regexp_extract).
    "q122_kql_text_parsekv" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend kv = strcat('type=', event_type, ' val=', tostring(tolong(value)), ' uid=', tostring(user_id))
          | | parse-kv kv as (type:string, val:long, uid:long) with (pair_delimiter=' ', kv_delimiter='=')
          | | project event_id, type, val, uid
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // evaluate basket — frequent attribute patterns over (event_type,
    // value band): every subset with ≥15% support, computed exactly as
    // one cube aggregate (Kusto approximates with Apriori).
    "q123_kql_text_basket" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | extend vb = tostring(tolong(value / 50))
          | | project event_type, vb
          | | evaluate basket(0.15)
          | | order by Count desc, event_type asc, vb asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // find — Kusto's cross-table search over let-bound scopes: one
    // predicate against every listed table, matches unioned by name
    // with a source_ label (filter + projection push into each scan).
    "q124_kql_text_find" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """let purchases = events | where event_type == 'purchase';
          |let errors = events | where event_type == 'error';
          |find in (purchases, errors) where value > 180 project event_id, event_type, value
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir))),

    // partition by key (scan …) — the scan family DISTRIBUTED from KQL
    // text: per-user running purchase total, ONE hash shuffle on the
    // key instead of the global serialized window.
    "q125_kql_text_scan_keyed" -> ((s, dir) =>
      graft.kql.KqlCompiler.compile(
        """events
          | | where event_type == 'purchase'
          | | order by ts asc, event_id asc
          | | partition by user_id ( scan declare (total:real = 0.0) with (
          |     step s: value > 0 => total = total + value;
          |   ) )
          | | project event_id, user_id, total = round(total, 6)
          | | order by event_id asc""".stripMargin,
        _ => Tables.events(s, dir)))
  )

  /** DuckDB mirror of the engine's pinned geohash unroll (same bit
    * positions, same base32 alphabet) — generated from one Scala loop so
    * the two sides cannot drift; the ALGORITHM itself is pinned by the
    * compiler spec's canonical (-5.6, 42.6) → 'ezs42' vector. */
  private def geohashSqlChars(prec: Int): String = {
    val nBits = 5 * prec; val nLon = (nBits + 1) / 2; val nLat = nBits / 2
    def bit(t: Int): String =
      if (t % 2 == 0) s"((lon_i >> ${nLon - 1 - t / 2}) & 1)"
      else s"((lat_i >> ${nLat - 1 - (t - 1) / 2}) & 1)"
    (0 until prec).map { k =>
      val v = (0 until 5).map(i => s"${bit(5 * k + i)} * ${1L << (4 - i)}").mkString(" + ")
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST($v AS INT) + 1, 1)"
    }.mkString(" || ")
  }

  /** geo ring 2 oracle: point-in-polygon truth from independent range
    * comparisons on the fixed rect-with-hole; line/perimeter/area
    * replicate the engine's haversine / Chamberlain–Duquette folds
    * term by term (zero-valued closing/λ-constant terms omitted — IEEE
    * x + 0.0 == x). Constants: C = 6371009²/2; area = 2·A1 − (A1+A2). */
  /** q241: the engine's spherical area of the clipped rect-with-hole,
    * re-derived from interval bounds with the same Chamberlain–Duquette
    * terms (vertical edges are exactly 0; the q220 replication). */
  private def clipOracle: String = {
    val cd = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""radians(($lonB) - ($lonA)) * (2.0 + sin(radians($latA)) + sin(radians($latB)))"""
    val aOuter = s"abs(${cd("cx1", "cy1", "cx2", "cy1")} + ${cd("cx2", "cy2", "cx1", "cy2")})"
    val aHole = s"abs(${cd("hx1", "hy1", "hx2", "hy1")} + ${cd("hx2", "hy2", "hx1", "hy2")})"
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 30 AS DOUBLE) - 15.0 + 0.25 AS px,
                CAST(event_id % 20 AS DOUBLE) - 10.0 + 0.25 AS py
         FROM events WHERE event_id % 97 = 0),
       b AS (
         SELECT *, greatest(px, 0.0) AS cx1, least(px + 8.0, 10.0) AS cx2,
                greatest(py, 0.0) AS cy1, least(py + 6.0, 8.0) AS cy2,
                greatest(px + 2.0, 0.0) AS hx1, least(px + 4.0, 10.0) AS hx2,
                greatest(py + 2.0, 0.0) AS hy1, least(py + 4.0, 8.0) AS hy2,
                (px < 10.0 AND px + 8.0 > 0.0 AND py < 8.0 AND py + 6.0 > 0.0) AS ov
         FROM p)
       SELECT event_id, px, py,
              NOT ov AS isn,
              CASE WHEN ov THEN round((
                $aOuter
                - CASE WHEN hx1 < hx2 AND hy1 < hy2 THEN $aHole ELSE 0.0 END
              ) * 20294877839040.5 / 1000000000.0, 3) END AS area,
              CASE WHEN ov THEN
                NOT ((cx1 + cx2) / 2.0 > px + 2.0 AND (cx1 + cx2) / 2.0 < px + 4.0
                     AND (cy1 + cy2) / 2.0 > py + 2.0 AND (cy1 + cy2) / 2.0 < py + 4.0)
              ELSE false END AS inm
       FROM b ORDER BY event_id"""
  }

  /** The engine's spherical point-to-segment ladder (GeoPredicates
    * `distSeg`: haversine-with-pow, cross-track/along-track clamps, the
    * d12=0 → dat≤0 → dat≥d12 case order — the q227 bit-stable
    * restatement) as ONE inline SQL expression for a FIXED segment
    * (lon1,lat1)→(lon2,lat2), probe columns px/py. Reused by the buffer
    * and line-lookup oracles so every segment restates the identical
    * IEEE op order. */
  private def crossTrackSql(lon1: Double, lat1: Double,
                            lon2: Double, lat2: Double): String = {
    def hav(lonA: String, latA: String, lonB: String, latB: String) =
      s"""2*asin(sqrt(pow(sin(radians(($latB) - ($latA))/2), 2) +
            cos(radians($latA))*cos(radians($latB))*pow(sin(radians(($lonB) - ($lonA))/2), 2)))"""
    def brg(lonA: String, latA: String, lonB: String, latB: String) =
      s"""atan2(sin(radians(($lonB) - ($lonA)))*cos(radians($latB)),
            cos(radians($latA))*sin(radians($latB)) -
            sin(radians($latA))*cos(radians($latB))*cos(radians(($lonB) - ($lonA))))"""
    val d13 = hav(s"$lon1", s"$lat1", "px", "py")
    val d12 = hav(s"$lon1", s"$lat1", s"$lon2", s"$lat2")
    val t13 = brg(s"$lon1", s"$lat1", "px", "py")
    val t12 = brg(s"$lon1", s"$lat1", s"$lon2", s"$lat2")
    val dxt = s"asin(greatest(-1.0, least(1.0, sin($d13)*sin(($t13) - ($t12)))))"
    val dat = s"acos(greatest(-1.0, least(1.0, cos($d13)/cos($dxt)))) * sign(cos(($t13) - ($t12)))"
    s"""CASE WHEN ($d12) = 0.0 THEN ($d13) * 6371009.0
             WHEN ($dat) <= 0.0 THEN ($d13) * 6371009.0
             WHEN ($dat) >= ($d12) THEN (${hav(s"$lon2", s"$lat2", "px", "py")}) * 6371009.0
             ELSE abs($dxt) * 6371009.0 END"""
  }

  /** q251: 3-way inclusion-exclusion over the CD rectangle terms
    * (r3 is disjoint; only r1∩r2 contributes a correction); membership
    * by intervals — probes never touch a boundary. */
  private def unionArrayOracle: String = {
    val cd = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""radians(($lonB) - ($lonA)) * (2.0 + sin(radians($latA)) + sin(radians($latB)))"""
    val rect = (x1: String, y1: String, x2: String, y2: String) =>
      s"""abs(${cd(x1, y1, x2, y1)} + ${cd(x2, y2, x1, y2)})"""
    val area =
      rect("px", "py", "px + 4.0", "py + 4.0") + " + " +
      rect("px + 2.5", "py + 1.5", "px + 6.5", "py + 5.5") + " + " +
      rect("px + 8.25", "py + 0.25", "px + 9.25", "py + 1.25") + " - " +
      rect("px + 2.5", "py + 1.5", "px + 4.0", "py + 4.0")
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 30 AS DOUBLE) - 15.0 + 0.25 AS px,
                CAST(event_id % 20 AS DOUBLE) - 10.0 + 0.25 AS py
         FROM events WHERE event_id % 97 = 0)
       SELECT event_id,
              true AS multi,
              round(($area) * 20294877839040.5 / 1000000000.0, 3) AS ua,
              true AS m1, true AS m2, true AS m3, false AS gap
       FROM p ORDER BY event_id"""
  }

  /** q250: clipped-chain lengths restated with the same haversine at
    * constant latitude over the interval crossings (exact lattice
    * endpoints — bitwise); the mid line keeps [px,px+2] ∪ [px+4,px+8],
    * the top line keeps [px,px+8]. */
  private def lineClipOracle: String = {
    val hav = (x1: String, x2: String, lat: String) =>
      s"""2 * 6371009.0 * asin(sqrt(
            pow(sin(radians(0.0)/2), 2) +
            cos(radians($lat)) * cos(radians($lat)) *
            pow(sin(radians(($x2) - ($x1))/2), 2)))"""
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 30 AS DOUBLE) - 15.0 + 0.25 AS px,
                CAST(event_id % 20 AS DOUBLE) - 10.0 + 0.25 AS py
         FROM events WHERE event_id % 97 = 0)
       SELECT event_id,
              true AS two,
              CAST(3 AS BIGINT) AS parts,
              round((${hav("px", "px + 2.0", "py + 3.0")})
                  + (${hav("px + 4.0", "px + 8.0", "py + 3.0")}), 3) AS lmidm,
              true AS one,
              round(${hav("px", "px + 8.0", "py + 5.0")}, 3) AS ltopm,
              true AS miss
       FROM p ORDER BY event_id"""
  }

  /** q244: the buffer-membership band invariant — d restated with the
    * single-segment ladder; agreement outside the band is total, so
    * agree = n and inn counts d below the band's lower edge. */
  private def lineBufferOracle: String = {
    val d = crossTrackSql(-20.0, 0.0, 20.0, 0.0)
    s"""WITH e AS (
         SELECT CAST(user_id % 168 AS DOUBLE) * 0.005 + 19.58 + 0.0005 AS px,
                (CAST(event_id % 120 AS DOUBLE) - 60.0) * 0.005 + 0.0005 AS py
         FROM events WHERE event_id % 11 = 0),
       dd AS (SELECT px, py, ($d) AS d FROM e)
       SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(CASE WHEN abs(d - 9000.0) < 450.0 THEN 1 END) AS BIGINT) AS nb,
              CAST(count(1) AS BIGINT) AS agree,
              CAST(count(CASE WHEN d < 9000.0 AND NOT abs(d - 9000.0) < 450.0
                         THEN 1 END) AS BIGINT) AS inn,
              CAST(count(1) AS BIGINT) AS bufok
       FROM dd"""
  }

  /** q245: line-lookup membership restated per line with the q227
    * ladder (bitwise ≤ radius, no band); one output row per match plus
    * one null row per miss (return_unmatched). */
  private def lineLookupOracle: String = {
    val dh = crossTrackSql(-20.0, 0.0, 20.0, 0.0)
    val dv = crossTrackSql(19.9, -0.5, 19.9, 0.5)
    s"""WITH e AS (
         SELECT CAST(user_id % 168 AS DOUBLE) * 0.005 + 19.58 + 0.0005 AS px,
                (CAST(event_id % 120 AS DOUBLE) - 60.0) * 0.005 + 0.0005 AS py
         FROM events WHERE event_id % 11 = 0),
       dd AS (SELECT px, py, ($dh) AS dh, ($dv) AS dv FROM e)
       SELECT CAST(sum(CASE WHEN dh <= 9000.0 THEN 1 ELSE 0 END
                     + CASE WHEN dv <= 9000.0 THEN 1 ELSE 0 END
                     + CASE WHEN dh > 9000.0 AND dv > 9000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
              CAST(count(CASE WHEN dh <= 9000.0 THEN 1 END) AS BIGINT) AS hs,
              CAST(count(CASE WHEN dv <= 9000.0 THEN 1 END) AS BIGINT) AS vs,
              CAST(count(CASE WHEN dh > 9000.0 AND dv > 9000.0 THEN 1 END) AS BIGINT) AS misses
       FROM dd"""
  }

  /** q246: same band invariant for the polygon buffer — d is 0 inside
    * (interval logic) else the min of the 8 fixed segments' ladders in
    * written ring order (the engine's candidate set bitwise). */
  private def polygonBufferOracle: String = {
    val outer = Seq((-0.2, -0.15), (0.2, -0.15), (0.2, 0.15), (-0.2, 0.15), (-0.2, -0.15))
    val hole = Seq((-0.05, -0.04), (0.05, -0.04), (0.05, 0.04), (-0.05, 0.04), (-0.05, -0.04))
    val segs = (outer.sliding(2) ++ hole.sliding(2)).map {
      case Seq((x1, y1), (x2, y2)) => crossTrackSql(x1, y1, x2, y2)
    }.toSeq
    val minD = s"least(${segs.mkString(", ")})"
    val inside =
      """(px > -0.2 AND px < 0.2 AND py > -0.15 AND py < 0.15
          AND NOT (px > -0.05 AND px < 0.05 AND py > -0.04 AND py < 0.04))"""
    s"""WITH e AS (
         SELECT CAST(user_id % 168 AS DOUBLE) * 0.005 - 0.42 + 0.0005 AS px,
                (CAST(event_id % 120 AS DOUBLE) - 60.0) * 0.005 + 0.0005 AS py
         FROM events WHERE event_id % 11 = 0),
       dd AS (SELECT px, py, CASE WHEN $inside THEN 0.0 ELSE ($minD) END AS d FROM e)
       SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(CASE WHEN abs(d - 3000.0) < 200.0 THEN 1 END) AS BIGINT) AS nb,
              CAST(count(1) AS BIGINT) AS agree,
              CAST(count(CASE WHEN d < 3000.0 AND NOT abs(d - 3000.0) < 200.0
                         THEN 1 END) AS BIGINT) AS inn,
              CAST(count(1) AS BIGINT) AS bufok
       FROM dd"""
  }

  /** q243: concave∩concave / ∪ by inclusion-exclusion over disjoint
    * rectangle decompositions (L1 = A1⊎A2 row-dependent, L2 = B1⊎B2
    * fixed), each rectangle's spherical area restated with the same
    * Chamberlain–Duquette terms as the engine (vertical edges are
    * exactly 0 — the q241 replication); membership by interval logic
    * at probe points that never touch a boundary (.125/.75 offsets vs
    * .25/.0 edges). */
  private def polygonBooleanOracle: String = {
    val cd = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""radians(($lonB) - ($lonA)) * (2.0 + sin(radians($latA)) + sin(radians($latB)))"""
    // CD area (in pre-scale units) of rect [x1,x2]×[y1,y2], 0 when empty
    val rect = (x1: String, y1: String, x2: String, y2: String) =>
      s"""CASE WHEN ($x1) < ($x2) AND ($y1) < ($y2)
            THEN abs(${cd(x1, y1, x2, y1)} + ${cd(x2, y2, x1, y2)}) ELSE 0.0 END"""
    val inter =
      rect("greatest(px, 0.0)", "greatest(py, 0.0)", "least(px + 8.0, 6.0)", "least(py + 3.0, 3.0)") + " + " +
      rect("greatest(px, 6.0)", "greatest(py, 0.0)", "least(px + 8.0, 10.0)", "least(py + 3.0, 8.0)") + " + " +
      rect("greatest(px, 0.0)", "greatest(py + 3.0, 0.0)", "least(px + 3.0, 6.0)", "least(py + 6.0, 3.0)") + " + " +
      rect("greatest(px, 6.0)", "greatest(py + 3.0, 0.0)", "least(px + 3.0, 10.0)", "least(py + 6.0, 8.0)")
    val l1 = rect("px", "py", "px + 8.0", "py + 3.0") + " + " +
      rect("px", "py + 3.0", "px + 3.0", "py + 6.0")
    val l2 = rect("0.0", "0.0", "6.0", "3.0") + " + " + rect("6.0", "0.0", "10.0", "8.0")
    val ov =
      """((px < 6.0 AND px + 8.0 > 0.0 AND py < 3.0 AND py + 3.0 > 0.0)
          OR (px < 10.0 AND px + 8.0 > 6.0 AND py < 8.0 AND py + 3.0 > 0.0)
          OR (px < 6.0 AND px + 3.0 > 0.0 AND py + 3.0 < 3.0 AND py + 6.0 > 0.0)
          OR (px < 10.0 AND px + 3.0 > 6.0 AND py + 3.0 < 8.0 AND py + 6.0 > 0.0))"""
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 30 AS DOUBLE) - 15.0 + 0.25 AS px,
                CAST(event_id % 20 AS DOUBLE) - 10.0 + 0.25 AS py
         FROM events WHERE event_id % 97 = 0)
       SELECT event_id, px, py,
              NOT $ov AS isn,
              CASE WHEN $ov
                THEN round(($inter) * 20294877839040.5 / 1000000000.0, 3) END AS ia,
              round((($l1) + ($l2) - ($inter)) * 20294877839040.5 / 1000000000.0, 3) AS ua,
              ((px < 8.125 AND 8.125 < px + 8.0 AND py < 1.625 AND 1.625 < py + 3.0)
               OR (px < 8.125 AND 8.125 < px + 3.0 AND py + 3.0 < 1.625 AND 1.625 < py + 6.0)) AS im,
              ((0.0 < px - 0.5 AND px - 0.5 < 6.0 AND 0.0 < py + 1.5 AND py + 1.5 < 3.0)
               OR (6.0 < px - 0.5 AND px - 0.5 < 10.0 AND 0.0 < py + 1.5 AND py + 1.5 < 8.0)) AS um
       FROM p ORDER BY event_id"""
  }

  /** q254: degenerate-contact booleans restated by interval logic —
    * the intersection rectangle [max(dx,0), min(dx+2,3)] x
    * [max(dy,0), min(dy+2,3)] (empty when any side is <= 0, touching
    * included), union area by inclusion-exclusion over the SAME
    * Chamberlain–Duquette spherical terms as the engine, membership at
    * half-integer probes by open-interval tests. */
  private def polygonDegenerateOracle: String = {
    val cd = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""radians(($lonB) - ($lonA)) * (2.0 + sin(radians($latA)) + sin(radians($latB)))"""
    val rect = (x1: String, y1: String, x2: String, y2: String) =>
      s"""CASE WHEN ($x1) < ($x2) AND ($y1) < ($y2)
            THEN abs(${cd(x1, y1, x2, y1)} + ${cd(x2, y2, x1, y2)}) ELSE 0.0 END"""
    val inter = rect("greatest(dx, 0.0)", "greatest(dy, 0.0)",
                     "least(dx + 2.0, 3.0)", "least(dy + 2.0, 3.0)")
    val aw = rect("0.0", "0.0", "3.0", "3.0")
    val ab = rect("dx", "dy", "dx + 2.0", "dy + 2.0")
    val ov = "(dx < 3.0 AND dx + 2.0 > 0.0 AND dy < 3.0 AND dy + 2.0 > 0.0)"
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 10 AS DOUBLE) - 4.0 AS dx,
                CAST(event_id % 8 AS DOUBLE) - 3.0 AS dy
         FROM events WHERE event_id % 89 = 0)
       SELECT event_id, dx, dy,
              NOT $ov AS isn,
              CASE WHEN $ov
                THEN round(($inter) * 20294877839040.5 / 1000000000.0, 3) END AS ia,
              round((($aw) + ($ab) - ($inter)) * 20294877839040.5 / 1000000000.0, 3) AS ua,
              ($ov AND dx < 1.5 AND 1.5 < dx + 2.0 AND dy < 1.5 AND 1.5 < dy + 2.0) AS im,
              TRUE AS um
       FROM p ORDER BY event_id"""
  }

  private def geo2Oracle: String = {
    val hav = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""2 * 6371009 * asin(sqrt(
            pow(sin(radians(($latB) - ($latA)) / 2), 2) +
            cos(radians($latA)) * cos(radians($latB)) *
            pow(sin(radians(($lonB) - ($lonA)) / 2), 2)))"""
    val cd = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""radians(($lonB) - ($lonA)) * (2.0 + sin(radians($latA)) + sin(radians($latB)))"""
    val a1 = s"abs(${cd("-20", "-15", "25", "-15")} + ${cd("25", "18", "-20", "18")}) * 20294877839040.5"
    val a2 = s"abs(${cd("0", "0", "10", "0")} + ${cd("10", "8", "0", "8")}) * 20294877839040.5"
    val per = s"""(((${hav("-20", "-15", "25", "-15")} + ${hav("25", "-15", "25", "18")})
                    + ${hav("25", "18", "-20", "18")}) + ${hav("-20", "18", "-20", "-15")})
                + (((${hav("0", "0", "10", "0")} + ${hav("10", "0", "10", "8")})
                    + ${hav("10", "8", "0", "8")}) + ${hav("0", "8", "0", "0")})"""
    s"""WITH p AS (
         SELECT event_id,
                CAST(user_id % 80 AS DOUBLE) - 40 + 0.5 AS px,
                CAST(event_id % 60 AS DOUBLE) - 30 + 0.5 AS py
         FROM events WHERE event_id % 97 = 0)
       SELECT event_id, px, py,
              ((px > -20 AND px < 25 AND py > -15 AND py < 18)
               AND NOT (px > 0 AND px < 10 AND py > 0 AND py < 8)) AS inp,
              round(${hav("px", "py", "px", "py + 2")} + ${hav("px", "py + 2", "px + 3", "py + 2")}, 3) AS llen,
              round($per, 3) AS per,
              round((2 * ($a1) - (($a1) + ($a2))) / 1000000.0, 3) AS area,
              TRUE AS badp, TRUE AS badl
       FROM p ORDER BY event_id"""
  }

  private def geoOracle: String = {
    val hav = (lonA: String, latA: String, lonB: String, latB: String) =>
      s"""2 * 6371009 * asin(sqrt(
            pow(sin(radians(($latB) - ($latA)) / 2), 2) +
            cos(radians($latA)) * cos(radians($latB)) *
            pow(sin(radians(($lonB) - ($lonA)) / 2), 2)))"""
    s"""WITH pts AS (
         SELECT event_id,
                (user_id % 360) - 180 + 0.25 AS lon,
                (event_id % 170) - 85 + 0.25 AS lat, props
         FROM events WHERE event_id % 89 = 0),
       g AS (
         SELECT event_id, lon, lat, props,
                least(CAST(floor((lon + 180) / 360 * ${1L << 15}) AS BIGINT), ${(1L << 15) - 1}) AS lon_i,
                least(CAST(floor((lat + 90) / 180 * ${1L << 15}) AS BIGINT), ${(1L << 15) - 1}) AS lat_i
         FROM pts)
       SELECT event_id,
              round(${hav("lon", "lat", "0", "0")}, 3) AS d,
              ${hav("lon", "lat", "10.0", "20.0")} <= 5000000.0 AS inc,
              ${geohashSqlChars(6)} AS gh,
              array_to_string(list_sort(json_keys(props)), ',') AS bk
       FROM g ORDER BY event_id"""
  }

  /** DuckDB mirror of the engine's format_bytes integer-math digit
    * formatting (see the compiler's pinned semantics). */
  private def formatBytesSql(v: String, p: Int): String = {
    val pow10 = math.pow(10, p).toLong
    def fmt(scaled: String, unit: String) = {
      val n = s"CAST(round(($scaled) * $pow10, 0) AS BIGINT)"
      val digits =
        if (p == 0) s"CAST($n AS VARCHAR)"
        else s"CAST(CAST(floor($n / $pow10.0) AS BIGINT) AS VARCHAR) || '.' || " +
          s"lpad(CAST($n % $pow10 AS VARCHAR), $p, '0')"
      s"$digits || ' $unit'"
    }
    val units = Seq("bytes", "KB", "MB", "GB", "TB", "PB", "EB")
    // fold ASCENDING so the largest unit's test ends up outermost
    (1 to 6).foldLeft(fmt(v, "bytes")) { (acc, k) =>
      val base = math.pow(1024.0, k).toLong
      s"CASE WHEN ($v) >= $base THEN ${fmt(s"($v) / $base.0", units(k))} ELSE $acc END"
    }
  }

  override val oracles: Map[String, String] = Map(
    "q01_count" ->
      "SELECT count(*) AS cnt FROM events",

    "q02_where_project_packall" ->
      """SELECT event_id,
         to_json(struct_pack(event_id := event_id, user_id := user_id,
                             event_type := event_type, props := props)) AS vresult
         FROM events WHERE event_type = 'error' ORDER BY event_id""",

    "q03_where_in_startswith" ->
      """SELECT event_id, event_type FROM events
         WHERE event_type IN ('signup','purchase') OR event_type LIKE 'err%'
         ORDER BY event_id""",

    "q04_project" ->
      "SELECT event_id, user_id, value FROM events ORDER BY event_id",

    "q05_extend_case" ->
      """SELECT event_id, event_type,
         CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid' ELSE 'high' END AS series
         FROM events ORDER BY event_id""",

    "q06_top_by" ->
      """SELECT event_id, user_id, value FROM events
         ORDER BY value DESC, event_id ASC LIMIT 5""",

    "q07_summarize_argmax" ->
      """WITH ranked AS (
           SELECT event_type, value, ts,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY ts DESC, event_id DESC) AS rn,
                  max(ts) OVER (PARTITION BY event_type) AS max_ts
           FROM events)
         SELECT event_type, value AS latest_value, epoch_ms(max_ts) AS latest_ts_ms
         FROM ranked WHERE rn = 1 ORDER BY event_type""",

    "q08_take" ->
      "SELECT event_id, event_type FROM events ORDER BY event_id LIMIT 10",

    "q09_dynamic_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
         ORDER BY event_id""",

    "q39_kql_text_project" ->
      """SELECT event_id,
         to_json(struct_pack(event_id := event_id, user_id := user_id,
                             event_type := event_type, props := props)) AS vresult
         FROM events WHERE event_type = 'error' ORDER BY event_id""",

    "q40_kql_text_summarize" ->
      """SELECT event_type,
                CASE WHEN value < 50 THEN 'small' WHEN value < 90 THEN 'medium' ELSE 'large' END AS bucket,
                count(*) AS n, round(sum(value), 2) AS total, max(value) AS mx
         FROM events WHERE event_type IN ('purchase', 'error') AND value >= 10
         GROUP BY 1, 2 ORDER BY event_type, bucket""",

    "q48_kql_text_dynamic" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
         ORDER BY event_id""",

    "q52_kql_text_join" ->
      """SELECT e.event_id, e.user_id, e.value AS pval, c.n_clicks
         FROM events e LEFT JOIN (
           SELECT user_id, count(*) AS n_clicks FROM events
           WHERE event_type = 'click' GROUP BY user_id) c USING (user_id)
         WHERE e.event_type = 'purchase'
         ORDER BY e.event_id""",

    "q59_kql_text_bin" ->
      """SELECT (floor(value / 10) * 10)::BIGINT AS b, count(*) AS n,
                round(avg(value), 6) AS avg_v
         FROM events GROUP BY 1 ORDER BY b""",

    "q63_kql_text_datetime" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % 43200000000) AS tb,
                count(*) AS n, round(avg(value), 6) AS avg_v
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 06:00:00'
           AND ts < TIMESTAMP '2024-01-27 12:00:00'
         GROUP BY tb ORDER BY tb""",

    "q66_kql_text_dt_breadth" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n,
                round(avg(value), 6) AS avg_v
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
           AND ts <= TIMESTAMP '2024-01-25 00:00:00'
           AND epoch_us(TIMESTAMP '2024-01-29 00:00:00') - epoch_us(ts) >= 5 * 86400000000
         GROUP BY d ORDER BY d""",

    "q67_kql_text_scalar2" ->
      """WITH f AS (
           SELECT *, epoch_us(ts) - 1704175200000000 AS delta
           FROM events
           WHERE regexp_matches(event_type, '^(purchase|error)$')
             AND hour(ts) BETWEEN 6 AND 18)
         SELECT make_timestamp(1704175200000000 +
                  (delta - ((delta % 86400000000 + 86400000000) % 86400000000))) AS d,
                count(*) AS n,
                CAST(sum(CAST(regexp_extract(props, 'k.: (\d+)', 1) AS BIGINT)) AS BIGINT) AS ksum,
                max(year(ts)) AS ymax, min(month(ts)) AS mmin
         FROM f GROUP BY 1 ORDER BY d""",

    "q70_kql_text_percentile" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.50), 6) AS p50,
                round(quantile_cont(value, 0.95), 6) AS p95,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q71_kql_text_parse" ->
      """WITH p AS (
           SELECT event_type,
                  CAST(regexp_extract(props, '^\{"k": (.*?)\}$', 1) AS BIGINT) AS k
           FROM events)
         SELECT event_type, count(*) AS n, round(avg(k), 6) AS kavg
         FROM p WHERE k >= 50
         GROUP BY event_type ORDER BY event_type""",

    "q72_kql_text_makeseries" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, coalesce(a.c, 0) AS c
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i)
         SELECT event_type,
                to_json(list(c ORDER BY i)) AS n,
                (SELECT to_json(list(strftime(make_timestamp(1704240000000000 + i * 172800000000),
                                              '%Y-%m-%dT%H:%M:%S.%f') || '0Z' ORDER BY i))
                 FROM bins) AS ts
         FROM filled GROUP BY event_type ORDER BY event_type""",

    "q73_kql_text_serialize" ->
      """WITH w AS (
           SELECT event_id,
                  row_number() OVER (ORDER BY event_id) AS rn,
                  round(value - lag(value) OVER (ORDER BY event_id), 6) AS dv,
                  lead(event_id) OVER (ORDER BY event_id) AS nxt
           FROM events)
         SELECT event_id, rn, dv, nxt FROM w WHERE rn <= 100 ORDER BY event_id""",

    "q74_kql_text_agg2" ->
      """SELECT (floor(value / 25) * 25)::BIGINT AS b,
                round(stddev_samp(value), 6) AS sd,
                round(var_samp(value), 6) AS vr,
                round(sum(least(value, 50.0)), 6) AS msum,
                max(strpos(event_type, 'u') - 1) AS pmax,
                to_json(list(DISTINCT event_type ORDER BY event_type)) AS types
         FROM events GROUP BY 1 ORDER BY b""",

    "q75_kql_text_topnested" ->
      """WITH l1 AS (
           SELECT event_type, count(*) AS n,
                  row_number() OVER (ORDER BY count(*) DESC, event_type ASC) AS r1
           FROM events GROUP BY event_type),
         w1 AS (SELECT event_type, n FROM l1 WHERE r1 <= 2),
         l2 AS (
           SELECT e.event_type, w1.n, e.user_id, round(sum(e.value), 6) AS v,
                  row_number() OVER (PARTITION BY e.event_type
                                     ORDER BY round(sum(e.value), 6) DESC, e.user_id ASC) AS r2
           FROM events e JOIN w1 USING (event_type)
           GROUP BY e.event_type, w1.n, e.user_id)
         SELECT event_type, n, user_id, v FROM l2 WHERE r2 <= 3
         ORDER BY event_type, v DESC, user_id""",

    "q77_kql_text_mvapply" ->
      """WITH tok AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), w -> length(w) >= 5) AS f
           FROM documents)
         SELECT doc_id,
                len(f) AS n5,
                list_max(list_transform(f, w -> length(w))) AS mx,
                coalesce(list_sum(list_transform(f, w -> length(w)::DOUBLE)), 0.0) AS s5
         FROM tok ORDER BY doc_id""",

    "q80_kql_text_range" ->
      """WITH squares AS (
           SELECT (1 + 3 * i) AS x, (1 + 3 * i) * (1 + 3 * i) AS y, (1 + 3 * i) % 2 AS b
           FROM unnest(range(0, 67)) t(i)),
         dims(b, tag) AS (VALUES (0, 'lo'), (1, 'hi')),
         j AS (SELECT s.y, d.tag FROM squares s LEFT JOIN dims d ON s.b = d.b)
         SELECT tag, count(*)::BIGINT AS n, sum(y)::BIGINT AS sy,
                max(length(tag))::BIGINT AS w
         FROM j GROUP BY tag ORDER BY tag""",

    "q81_kql_text_tophitters" ->
      """WITH h AS (
           SELECT user_id, sum(value) AS s
           FROM events GROUP BY user_id
           ORDER BY s DESC, user_id ASC LIMIT 3)
         SELECT user_id, round(s, 6) AS s FROM h ORDER BY user_id""",

    "q82_kql_text_rowcumsum" ->
      """WITH p AS (
           SELECT event_id,
                  round(sum(value) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cs
           FROM events WHERE event_type = 'purchase')
         SELECT event_id, cs FROM p WHERE cs <= 1000.0 ORDER BY event_id""",

    "q87_kql_text_pivot" ->
      """WITH base AS (
           SELECT floor(value / 25)::BIGINT AS b, event_type, value FROM events)
         SELECT b,
                round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
                round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
                round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
                round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
                round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view
         FROM base GROUP BY b ORDER BY b""",

    "q219_kql_text_funnel_completion" ->
      """WITH ev AS (SELECT user_id, ts, event_type FROM events
                     WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2025-01-01'),
         e1 AS (SELECT user_id, min(ts) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
         e2 AS (SELECT e1.user_id, e1.t1, min(ev.ts) AS t2
                FROM e1 LEFT JOIN ev ON ev.user_id = e1.user_id
                     AND ev.event_type = 'click' AND ev.ts > e1.t1
                GROUP BY 1, 2),
         e3 AS (SELECT e2.user_id, e2.t1, e2.t2, min(ev.ts) AS t3
                FROM e2 LEFT JOIN ev ON ev.user_id = e2.user_id
                     AND ev.event_type = 'purchase' AND ev.ts > e2.t2
                GROUP BY 1, 2, 3),
         x AS (SELECT CAST(p.period AS BIGINT) AS period,
                      make_timestamp(epoch_us(t1) // 604800000000 * 604800000000) AS ts,
                      t1, t2, t3
               FROM e3 CROSS JOIN (VALUES (3600000000), (86400000000), (2592000000000)) AS p(period))
         SELECT period, ts,
                count(*) AS "view",
                count(CASE WHEN t2 IS NOT NULL AND epoch_us(t2) - epoch_us(t1) <= period THEN 1 END) AS click,
                count(CASE WHEN t3 IS NOT NULL AND epoch_us(t3) - epoch_us(t1) <= period THEN 1 END) AS purchase
         FROM x GROUP BY 1, 2 ORDER BY 1, 2""",

    "q218_kql_text_geohash_decode" ->
      """SELECT event_id, TRUE AS ok_lon, TRUE AS ok_lat, TRUE AS ok_rt,
              '{"type":"Point","coordinates":[-5.60302734375,42.60498046875]}' AS v,
              TRUE AS bad
         FROM events WHERE event_id % 89 = 0 ORDER BY event_id""",

    "q217_kql_text_buildschema" ->
      """SELECT event_type,
              '{"t":"string","u":"long","v":"real"}' AS sc,
              concat('{"ty":"', event_type, '"}') AS mb
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q216_kql_text_percentrank" ->
      """SELECT event_type, TRUE AS ok_rt50, TRUE AS ok_rt90, TRUE AS ok_bounds,
              TRUE AS ok_mono, TRUE AS ok_loc50, TRUE AS ok_loc90
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q215_kql_text_hasipv4" ->
      """SELECT event_id,
              TRUE AS h1, TRUE AS h2, FALSE AS h3, TRUE AS h4, FALSE AS h5,
              TRUE AS hp, FALSE AS hp2, TRUE AS ha, TRUE AS hap,
              '["event_id","event_type"]' AS bk, event_id AS bv
         FROM events WHERE event_id % 31 = 0 ORDER BY event_id""",

    "q214_kql_text_fitpoly" ->
      """SELECT event_id, CAST(1.0 AS DOUBLE) AS rs,
              CAST(3.0 AS DOUBLE) AS c2, CAST(2.0 AS DOUBLE) AS c1,
              round(value, 6) AS c0, CAST(0.0 AS DOUBLE) AS rv,
              CAST(0.0 AS DOUBLE) AS rt
         FROM events WHERE event_id % 29 = 0 ORDER BY event_id""",

    "q213_kql_text_cidr" ->
      """SELECT event_id,
              '["10.0.0.0/24"]' AS cl,
              concat('["10.', CAST(event_id % 200 AS VARCHAR), '.0.3/32","10.',
                     CAST(event_id % 200 AS VARCHAR), '.0.4/30","10.',
                     CAST(event_id % 200 AS VARCHAR), '.0.8/31","10.',
                     CAST(event_id % 200 AS VARCHAR), '.0.10/32"]') AS c2,
              '["0.0.0.0/0"]' AS c3,
              TRUE AS cbad, TRUE AS cmal
         FROM events WHERE event_id % 23 = 0 ORDER BY event_id""",

    "q212_kql_text_convert" ->
      """SELECT event_id,
              round(value * 1609.344 / 1000.0, 4) AS lm,
              round(value * 0.3048 / 0.0254, 3) AS li,
              round(value * 0.45359237 / 0.001, 2) AS ms,
              round(value * (1.0 / 3.6) / 0.44704, 4) AS sp,
              round(value * 3600000.0 / 4184.0, 1) AS en,
              round(value * (pi() / 180.0) / (pi() / 200.0), 4) AS an,
              round(value * 0.003785411784 / 0.001, 4) AS vo,
              round(value * 4.4482216152605 / 1.0, 4) AS fo,
              round((value + 459.67) * 5.0 / 9.0 - 273.15, 4) AS tc,
              round(value + 273.15, 4) AS tk,
              round(CASE WHEN event_id % 2 = 0 THEN value * 0.3048 / 1.0
                         ELSE value * 0.9144 / 1.0 END, 4) AS dyn,
              CAST(NULL AS DOUBLE) AS bad
         FROM events WHERE event_id % 19 = 0 ORDER BY event_id""",

    "q210_kql_text_fft" ->
      """SELECT event_type, CAST(15 AS BIGINT) AS n,
              round(coalesce(sum(value) FILTER (
                ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'), 0.0), 4) AS dc,
              CAST(0.0 AS DOUBLE) AS dci, CAST(0.0 AS DOUBLE) AS par,
              CAST(0.0 AS DOUBLE) AS rt, CAST(0.0 AS DOUBLE) AS rti
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q209_kql_text_stat" ->
      """WITH base AS (
           SELECT event_id, value, least(value, 300.0) / 409.7 + 0.0013 AS xx,
                  1.0 + (event_id % 5) AS aa, 2.0 + (event_id % 3) AS bb,
                  (value - value * 0.5) / sqrt(8.0) AS t
           FROM events WHERE event_id % 17 = 0)
         SELECT event_id,
                round(1.0 - power(1.0 - xx, bb), 7) AS c1,
                round(power(xx, aa), 7) AS c2,
                CAST(1.0 AS DOUBLE) AS sym,
                CAST(0.0 AS DOUBLE) AS rt,
                round(2.0 * xx, 7) AS pd,
                round(1.0 - t / sqrt(2.0 + t * t), 7) AS w2
         FROM base ORDER BY event_id""",

    // per-element formulas are known (a/b derive from value/event_id),
    // so the oracle computes reductions/counts directly with the SAME
    // left-to-right IEEE fold order the engine's aggregate() uses
    "q208_kql_text_series5" ->
      """WITH base AS (
           SELECT event_id, value,
                  value AS a1, value + 1.0 AS a2, value * 0.5 AS a3,
                  1.0 + (event_id % 3) AS a4,
                  value * 0.75 AS b1, value AS b2, value AS b3, 2.0 AS b4
           FROM events WHERE event_id % 13 = 0)
         SELECT event_id,
                round(((a1 + a2) + a3) + a4, 6) AS ssum,
                round(((b1 * b2) * b3) * b4, 4) AS sprod,
                least(a1, a2, a3, a4) AS smin, greatest(a1, a2, a3, a4) AS smax,
                round((((a1 + a2) + a3) + a4) / 4, 6) AS savg,
                CAST((a1 > b1)::INT + (a2 > b2)::INT + (a3 > b3)::INT + (a4 > b4)::INT AS DOUBLE) AS ngt,
                CAST((a1 >= b1)::INT + (a2 >= b2)::INT + (a3 >= b3)::INT + (a4 >= b4)::INT AS DOUBLE) AS nge,
                CAST((a1 < b1)::INT + (a2 < b2)::INT + (a3 < b3)::INT + (a4 < b4)::INT AS DOUBLE) AS nlt,
                CAST((a1 <= b1)::INT + (a2 <= b2)::INT + (a3 <= b3)::INT + (a4 <= b4)::INT AS DOUBLE) AS nle,
                CAST((a1 = b1)::INT + (a2 = b2)::INT + (a3 = b3)::INT + (a4 = b4)::INT AS DOUBLE) AS neq,
                CAST((a1 <> b1)::INT + (a2 <> b2)::INT + (a3 <> b3)::INT + (a4 <> b4)::INT AS DOUBLE) AS nne,
                round(((atan(a1) + atan(a2)) + atan(a3)) + atan(a4), 9) AS sat,
                CAST(floor(a1) + floor(a2) + floor(a3) + floor(a4) AS DOUBLE) AS sfl,
                CAST(ceil(b1) + ceil(b2) + ceil(b3) + ceil(b4) AS DOUBLE) AS scl,
                TRUE AS bh, FALSE AS bm, TRUE AS r1, FALSE AS r2
         FROM base ORDER BY event_id""",

    "q206_kql_text_mathring" ->
      """WITH base AS (
           SELECT event_id, (CAST(event_id % 160 AS DOUBLE) - 80.0)/20.0 AS x,
                  ((event_id % 7) + 1)/2.0 AS p,
                  value, event_type
           FROM events WHERE event_id % 11 = 0)
         SELECT event_id,
                round(exp(x), 6) AS e, round(power(2.0, x), 6) AS e2,
                round(power(10.0, x/10.0), 6) AS e10,
                round(ln(p), 6) AS ln, round(log2(p), 6) AS l2, round(log10(p), 6) AS l10,
                round(sqrt(p), 9) AS sq, round(power(p, 2.5), 6) AS pw,
                round(sin(x), 6) AS sn, round(cos(x), 6) AS cs, round(tan(x), 6) AS tn,
                round(asin(sin(x)), 6) AS asn, round(acos(sin(x)), 6) AS acs,
                round(atan(x), 6) AS at, round(atan2(x, p), 6) AS at2,
                round(1.0/tan(0.5 + (event_id % 3)), 6) AS ct,
                round(degrees(x), 6) AS dg, round(radians(value), 9) AS rd,
                round(pi(), 9) AS pp, CAST(sign(x) AS DOUBLE) AS sg,
                (strlen(event_type) = length(event_type)) AS ia,
                (strlen(event_type || 'é') = length(event_type || 'é')) AS ib
         FROM base ORDER BY event_id""",

    "q207_kql_text_parsecsv" ->
      """SELECT event_id, CAST(5 AS BIGINT) AS n,
              event_type AS f0,
              'a,' || CAST(user_id AS VARCHAR) || '"q' AS f1,
              event_id AS f2, 'trail' AS f3, '' AS f4
         FROM events WHERE event_id % 101 = 0 ORDER BY event_id""",

    // the oracle enumerates the fixture's event types; the engine infers
    // them (absent (b, type) combos are NULL on both sides)
    "q204_kql_text_pivot_inferred" ->
      """WITH base AS (SELECT floor(value / 25)::BIGINT AS b, event_type FROM events)
         SELECT b,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
         FROM base GROUP BY b ORDER BY b""",

    "q88_kql_text_funnel" ->
      """WITH s1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (
           SELECT e.user_id, min(e.ts) AS t2
           FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
         s3 AS (
           SELECT e.user_id, min(e.ts) AS t3
           FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
         SELECT user_id AS k, t3 FROM s3 ORDER BY k""",

    "q86_kql_text_scalar4" ->
      """SELECT (CASE WHEN event_type < 'purchase' THEN -1
                      WHEN event_type > 'purchase' THEN 1 ELSE 0 END)::BIGINT AS sc,
                translate(event_type, 'cku', 'CKU') AS tr,
                regexp_replace(event_type, '^(e)+', '') AS t1,
                regexp_replace(event_type, '(w)+$', '') AS t2,
                count(*) AS n,
                count(DISTINCT props) AS dh
         FROM events GROUP BY 1, 2, 3, 4 ORDER BY tr""",

    "q83_kql_text_series" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, coalesce(a.c, 0) AS c
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         ser AS (
           SELECT event_type, list(c ORDER BY i) AS n
           FROM filled GROUP BY event_type)
         SELECT event_type,
                to_json(list_transform(n, x -> x * 2)) AS dbl,
                to_json(list_transform(n, x -> x + x)) AS tot,
                list_min(n)::BIGINT AS mn,
                (list_position(n, list_min(n)) - 1)::BIGINT AS mni,
                list_max(n)::BIGINT AS mx,
                (list_position(n, list_max(n)) - 1)::BIGINT AS mxi,
                round(list_avg(n), 6) AS av,
                round(coalesce(list_aggregate(n, 'stddev_samp'), 0), 6) AS sd,
                round(coalesce(list_aggregate(n, 'var_samp'), 0), 6) AS vr
         FROM ser ORDER BY event_type""",

    "q92_kql_text_fork" ->
      """SELECT * FROM (
           SELECT event_type, count(*) AS n, round(sum(value), 6) AS v, 'hi' AS fork_source
           FROM events WHERE value >= 50 GROUP BY event_type
           UNION ALL
           SELECT event_type, count(*) AS n, round(sum(value), 6) AS v, 'lo' AS fork_source
           FROM events WHERE value < 50 GROUP BY event_type)
         ORDER BY fork_source, event_type""",

    "q108_kql_text_datetime2" ->
      """SELECT event_id,
                ts + INTERVAL 3 DAY AS d1,
                ts + INTERVAL 1 MONTH AS m1,
                date_diff('hour', ts, TIMESTAMP '2024-02-01 00:00:00')::BIGINT AS dd,
                date_diff('day', ts, TIMESTAMP '2024-02-01 00:00:00')::BIGINT AS dw,
                month(ts)::BIGINT AS pm,
                month(ts)::BIGINT AS my,
                dayofyear(ts)::BIGINT AS dy,
                weekofyear(ts)::BIGINT AS wy
         FROM events ORDER BY event_id""",

    "q107_kql_text_ring7" ->
      """WITH typed AS (
           SELECT event_id, event_type,
                  CAST(props->>'k' AS BIGINT) AS kv,
                  rank() OVER (ORDER BY event_type) AS rm,
                  dense_rank() OVER (ORDER BY event_type) AS rd
           FROM events WHERE event_type IN ('click', 'view'))
         SELECT event_id, event_type, rm::BIGINT AS rm, rd::BIGINT AS rd, kv
         FROM typed WHERE kv BETWEEN 10 AND 99
         ORDER BY event_id""",

    "q105_kql_text_topothers" ->
      """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
         r AS (SELECT *, row_number() OVER (ORDER BY n DESC, event_type ASC) AS rn FROM g)
         SELECT * FROM (
           SELECT event_type, n FROM r WHERE rn <= 3
           UNION ALL
           SELECT 'rest' AS event_type, sum(n)::BIGINT AS n FROM r WHERE rn > 3)
         ORDER BY event_type""",

    "q106_kql_text_narrow" ->
      """WITH top5 AS (
           SELECT event_id, event_type, user_id FROM events ORDER BY event_id LIMIT 5),
         num AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS "Row" FROM top5)
         SELECT * FROM (
           SELECT "Row", 'event_id' AS "Column", CAST(event_id AS VARCHAR) AS "Value" FROM num
           UNION ALL
           SELECT "Row", 'event_type' AS "Column", event_type AS "Value" FROM num
           UNION ALL
           SELECT "Row", 'user_id' AS "Column", CAST(user_id AS VARCHAR) AS "Value" FROM num)
         ORDER BY "Row", "Column"""",

    "q104_kql_text_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact, 1::BIGINT AS grp_ok,
                (SELECT count(DISTINCT event_type) FROM events)::BIGINT AS groups,
                1::BIGINT AS total_ok
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q103_kql_text_series2" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, coalesce(a.c, 0) AS c
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         ser AS (
           SELECT event_type, list(c ORDER BY i) AS n
           FROM filled GROUP BY event_type)
         SELECT event_type,
                to_json(list_transform(range(1, len(n) + 1),
                  i -> 0.5 * n[i] + CASE WHEN i > 1 THEN 0.5 * n[i-1] ELSE 0.0 END)) AS sm,
                round(list_aggregate(list_transform(n, x -> ln(x + 1)), 'sum'), 6) AS lsum,
                round(list_aggregate(list_transform(n, x -> sqrt(x)), 'sum'), 6) AS qsum,
                round(CAST(list_aggregate(list_transform(n, x -> x * x), 'sum') AS DOUBLE), 6) AS psum
         FROM ser ORDER BY event_type""",

    "q102_kql_text_ring6" ->
      """WITH base AS (
           SELECT event_id,
                  CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS kv
           FROM events),
         expanded AS (
           SELECT event_id, 0::BIGINT AS ix, kv AS arr FROM base
           UNION ALL
           SELECT event_id, 1::BIGINT AS ix, event_id % 9 AS arr FROM base)
         SELECT event_id, ix, arr,
                event_id & 255 AS ba, xor(arr, 15::BIGINT) AS bx, arr << 3 AS sl,
                event_id >> 4 AS sr, bit_count(arr)::BIGINT AS bc
         FROM expanded ORDER BY event_id, ix""",

    "q101_kql_text_invoke" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 6) AS v
         FROM events WHERE value >= 10
         GROUP BY event_type ORDER BY event_type""",

    "q100_kql_text_bagunpack" ->
      """SELECT event_type, count(*) AS n,
                round(avg(CAST(props->>'k' AS BIGINT)), 6) AS kavg
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q96_kql_text_sample" ->
      """SELECT * FROM (
           SELECT 'a' AS fork_source,
                  LEAST(37, (SELECT count(*) FROM events))::BIGINT AS picked,
                  NULL::BIGINT AS types
           UNION ALL
           SELECT 'b' AS fork_source, NULL::BIGINT AS picked,
                  LEAST(10, (SELECT count(DISTINCT event_type) FROM events))::BIGINT AS types)
         ORDER BY fork_source""",

    "q95_kql_text_percentiles" ->
      """SELECT event_type,
                round(quantile_cont(value, 0.25), 6) AS p25,
                round(quantile_cont(value, 0.50), 6) AS p50,
                round(quantile_cont(value, 0.95), 6) AS p95,
                count(*) AS n,
                round(quantile_cont(value, 0.10), 6) AS p10
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q94_kql_text_scalar5" ->
      """WITH src AS (
           SELECT event_id, event_type, value,
                  [floor(value / 25)::BIGINT, event_id % 7, 3::BIGINT] AS arr
           FROM events)
         SELECT event_id,
                base64(event_type::BLOB) AS b64,
                from_base64(base64(event_type::BLOB))::VARCHAR AS rt,
                md5(event_type) AS md,
                sha256(event_type) AS sha,
                to_json([arr[1], arr[2]]) AS sl,
                to_json(list_sort(list_distinct(arr || [3::BIGINT, 99]))) AS su,
                to_json(list_sort(list_distinct(
                  list_intersect(arr, [floor(value / 25)::BIGINT, 99])))) AS si,
                to_json(list_sort(list_distinct(list_filter(arr, x -> x != 3)))) AS sd,
                to_json([arr[2], arr[3], arr[1]]) AS rot,
                round(len(list_intersect(list_distinct(arr), [3::BIGINT, 99]))::DOUBLE /
                      len(list_distinct(arr || [3::BIGINT, 99]))::DOUBLE, 6) AS ji,
                to_json([event_id % 5, event_id % 5]) AS rp,
                event_type || '|' || CAST(event_id % 7 AS VARCHAR) AS scd
         FROM src ORDER BY event_id""",

    "q93_kql_text_facet" ->
      """WITH src AS (SELECT *, floor(value / 25)::BIGINT AS b FROM events)
         SELECT * FROM (
           SELECT 'event_type' AS facet_column, CAST(event_type AS VARCHAR) AS value,
                  count(*) AS count_ FROM src GROUP BY 2
           UNION ALL
           SELECT 'b' AS facet_column, CAST(b AS VARCHAR) AS value,
                  count(*) AS count_ FROM src GROUP BY 2)
         ORDER BY facet_column, value""",

    "q115_kql_text_join2" ->
      """SELECT c_mktsegment, count(*) AS n_no_orders
         FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // repeated-match scan oracle — the closed form of the two-step
    // disjoint machine: every signup row matches (extend or new); a
    // purchase matches iff it is the FIRST purchase after its nearest
    // preceding signup (sequences and completions strictly alternate,
    // so match ids count completions). signup_id on a completing row is
    // the latest signup before it; match ids number signup runs.
    "q116_kql_text_scan" ->
      """WITH f AS (
           SELECT event_id, event_type, value,
                  row_number() OVER (ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type IN ('signup', 'purchase')),
         a AS (
           SELECT *,
                  max(CASE WHEN event_type = 'signup' THEN rn END) OVER
                    (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_rn
           FROM f),
         mb AS (SELECT rn FROM (
                  SELECT rn, row_number() OVER (PARTITION BY a_rn ORDER BY rn) AS rb
                  FROM a WHERE event_type = 'purchase' AND a_rn IS NOT NULL)
                WHERE rb = 1),
         g AS (SELECT a.*, CASE WHEN m.rn IS NOT NULL THEN 1 ELSE 0 END AS is_mb
               FROM a LEFT JOIN mb m ON a.rn = m.rn),
         h AS (SELECT *,
                 coalesce(sum(is_mb) OVER (ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mb_before,
                 sum(is_mb) OVER (ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mb_upto
               FROM g)
         SELECT h.event_id, h.event_type,
                (CASE WHEN h.event_type = 'signup' THEN h.event_id ELSE s.event_id END)::BIGINT AS signup_id,
                (CASE WHEN h.event_type = 'signup' THEN 0.0 ELSE h.value END)::DOUBLE AS spend,
                (CASE WHEN h.event_type = 'signup' THEN 1 + h.mb_before ELSE h.mb_upto END)::BIGINT AS mid
         FROM h LEFT JOIN f s ON s.rn = h.a_rn
         WHERE h.event_type = 'signup' OR h.is_mb = 1
         ORDER BY h.event_id""",

    // hand-traced machine fixture: literal VALUES
    // series_decompose replicated as CTEs over unnested bins (the q98
    // playbook): per-phase medians, closed-form OLS over the
    // de-seasonalized values, identical expression shapes so doubles
    // match bit-stable after round(…, 6).
    "q128_kql_text_series_decompose" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         ph AS (SELECT event_type, i % 4 AS phase, median(x) AS m
                FROM filled GROUP BY 1, 2),
         det AS (SELECT f.event_type, f.i, f.x, p.m AS se, f.x - p.m AS d
                 FROM filled f
                 JOIN ph p ON p.event_type = f.event_type AND p.phase = f.i % 4),
         fit AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(d) AS sy,
                        sum(i * d) AS sxy, CAST(sum(i) AS DOUBLE) AS sx,
                        CAST(sum(i * i) AS DOUBLE) AS sxx
                 FROM det GROUP BY 1),
         co AS (SELECT event_type,
                       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
                       n, sx, sy
                FROM fit),
         co2 AS (SELECT event_type, slope, (sy - slope * sx) / n AS icept FROM co),
         fin AS (SELECT d.event_type, d.i, d.x, d.se,
                        c.icept + c.slope * d.i AS tr
                 FROM det d JOIN co2 c ON c.event_type = d.event_type)
         SELECT event_type, i, round(se + tr, 6) AS b, round(se, 6) AS sc,
                round(tr, 6) AS tc, round(x - (se + tr), 6) AS r
         FROM fin ORDER BY event_type, i""",

    // q128's skeleton + ctukey(10/90) fences on residuals (threshold 1.0
    // flags) and tukey(25/75) scores on the raw series
    "q129_kql_text_series_anomalies" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         ph AS (SELECT event_type, i % 4 AS phase, median(x) AS m
                FROM filled GROUP BY 1, 2),
         det AS (SELECT f.event_type, f.i, f.x, p.m AS se, f.x - p.m AS d
                 FROM filled f
                 JOIN ph p ON p.event_type = f.event_type AND p.phase = f.i % 4),
         fit AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(d) AS sy,
                        sum(i * d) AS sxy, CAST(sum(i) AS DOUBLE) AS sx,
                        CAST(sum(i * i) AS DOUBLE) AS sxx
                 FROM det GROUP BY 1),
         co AS (SELECT event_type,
                       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
                       n, sx, sy
                FROM fit),
         co2 AS (SELECT event_type, slope, (sy - slope * sx) / n AS icept FROM co),
         fin AS (SELECT d.event_type, d.i, d.x, d.se,
                        c.icept + c.slope * d.i AS tr
                 FROM det d JOIN co2 c ON c.event_type = d.event_type),
         resid AS (SELECT event_type, i, x, se + tr AS base,
                          x - (se + tr) AS r0
                   FROM fin),
         rq AS (SELECT event_type,
                       quantile_cont(r0, 0.10) AS ql, quantile_cont(r0, 0.90) AS qh
                FROM resid GROUP BY 1),
         xq AS (SELECT event_type,
                       quantile_cont(x, 0.25) AS xl, quantile_cont(x, 0.75) AS xh
                FROM filled GROUP BY 1),
         scored AS (
           SELECT r.event_type, r.i, r.base,
                  CASE WHEN q.qh - q.ql = 0 THEN 0.0
                       WHEN r.r0 > q.qh THEN (r.r0 - q.qh) / (q.qh - q.ql)
                       WHEN r.r0 < q.ql THEN (r.r0 - q.ql) / (q.qh - q.ql)
                       ELSE 0.0 END AS score,
                  CASE WHEN x.xh - x.xl = 0 THEN 0.0
                       WHEN r.x > x.xh THEN (r.x - x.xh) / (x.xh - x.xl)
                       WHEN r.x < x.xl THEN (r.x - x.xl) / (x.xh - x.xl)
                       ELSE 0.0 END AS outl
           FROM resid r
           JOIN rq q ON q.event_type = r.event_type
           JOIN xq x ON x.event_type = r.event_type)
         SELECT event_type, i,
                (CASE WHEN score >= 1.0 THEN 1
                      WHEN score <= -1.0 THEN -1 ELSE 0 END)::BIGINT AS flag,
                round(score, 6) AS score, round(base, 6) AS base,
                round(outl, 6) AS outl
         FROM scored ORDER BY event_type, i""",

    "q126_kql_text_scan_machine" ->
      """SELECT * FROM (VALUES
           (1::BIGINT, 'A', 1::BIGINT, 0::BIGINT, 1::BIGINT),
           (2, 'A', 2, 0, 1), (3, 'B', 2, 3, 1), (4, 'B', 2, 4, 1),
           (5, 'C', 2, 4, 1), (7, 'A', 7, 0, 2), (9, 'B', 7, 9, 2),
           (10, 'C', 7, 9, 2), (11, 'A', 11, 0, 3), (12, 'B', 11, 12, 3),
           (13, 'A', 13, 0, 4), (14, 'B', 13, 14, 4), (15, 'C', 13, 14, 4))
         AS v(id, t, a, b, mid) ORDER BY id""",

    // keyed repeated scan: the q116 closed form per user partition
    "q127_kql_text_scan_keyed_repeated" ->
      """WITH f AS (
           SELECT event_id, user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events WHERE event_type IN ('click', 'purchase')),
         a AS (
           SELECT *,
                  max(CASE WHEN event_type = 'click' THEN rn END) OVER
                    (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_rn
           FROM f),
         mb AS (SELECT user_id, rn FROM (
                  SELECT user_id, rn,
                         row_number() OVER (PARTITION BY user_id, a_rn ORDER BY rn) AS rb
                  FROM a WHERE event_type = 'purchase' AND a_rn IS NOT NULL)
                WHERE rb = 1),
         g AS (SELECT a.*, CASE WHEN m.rn IS NOT NULL THEN 1 ELSE 0 END AS is_mb
               FROM a LEFT JOIN mb m ON a.user_id = m.user_id AND a.rn = m.rn),
         h AS (SELECT *,
                 coalesce(sum(is_mb) OVER (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mb_before,
                 sum(is_mb) OVER (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mb_upto
               FROM g)
         SELECT h.event_id, h.user_id, h.event_type,
                (CASE WHEN h.event_type = 'click' THEN h.event_id ELSE c.event_id END)::BIGINT AS click_id,
                (CASE WHEN h.event_type = 'click' THEN 1 + h.mb_before ELSE h.mb_upto END)::BIGINT AS mid
         FROM h LEFT JOIN f c ON c.user_id = h.user_id AND c.rn = h.a_rn
         WHERE h.event_type = 'click' OR h.is_mb = 1
         ORDER BY h.event_id""",

    // running scan oracle: the additive accumulator IS a running window
    // sum over the matched rows in scan order; last_id is each consuming
    // row's own event_id
    "q117_kql_text_scan_running" ->
      """SELECT event_id,
                round(0.0 + sum(value) OVER (ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS total,
                event_id AS last_id
         FROM events
         WHERE event_type = 'purchase' AND value > 50
         ORDER BY event_id""",

    // sequence_detect oracle: the q88 funnel chain with the plugin's
    // two time bounds — consecutive steps within 12h (43200000000 µs),
    // whole sequence within 2d (172800000000 µs) of step 1
    "q120_kql_text_seq_detect" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         c1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         c2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM e JOIN c1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > c1.t1
                  AND e.ts <= c1.t1 + 43200000000
                  AND e.ts <= c1.t1 + 172800000000
                GROUP BY e.user_id),
         c3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM e JOIN c2 USING (user_id) JOIN c1 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > c2.t2
                  AND e.ts <= c2.t2 + 43200000000
                  AND e.ts <= c1.t1 + 172800000000
                GROUP BY e.user_id)
         SELECT c1.user_id, make_timestamp(t1) AS s1, make_timestamp(t2) AS s2,
                make_timestamp(t3) AS s3
         FROM c1 JOIN c2 USING (user_id) JOIN c3 USING (user_id)
         ORDER BY user_id""",

    // parse-kv oracle: same anchored extraction regexes (tolong is a
    // truncating cast — trunc() in DuckDB, never ::BIGINT which rounds)
    "q122_kql_text_parsekv" ->
      """WITH kvs AS (
           SELECT event_id,
                  'type=' || event_type || ' val=' || trunc(value)::BIGINT::VARCHAR ||
                  ' uid=' || user_id::VARCHAR AS kv
           FROM events)
         SELECT event_id,
                regexp_extract(kv, '(?:^| )type=([^ ]*)', 1) AS type,
                regexp_extract(kv, '(?:^| )val=([^ ]*)', 1)::BIGINT AS val,
                regexp_extract(kv, '(?:^| )uid=([^ ]*)', 1)::BIGINT AS uid
         FROM kvs ORDER BY event_id""",

    // basket oracle: the identical cube lattice; '*' sentinel for the
    // wildcard level; total read from the cube's own grand-total row
    "q123_kql_text_basket" ->
      """WITH base AS (
           SELECT event_type, trunc(value / 50)::BIGINT::VARCHAR AS vb FROM events),
         cube_t AS (
           SELECT coalesce(event_type, '*') AS event_type,
                  coalesce(vb, '*') AS vb,
                  count(*)::BIGINT AS "Count",
                  grouping(event_type) + 2 * grouping(vb) AS gid
           FROM base GROUP BY CUBE (event_type, vb)),
         tot AS (SELECT "Count" AS total FROM cube_t WHERE gid = 3)
         SELECT event_type, vb, "Count",
                round(100.0 * "Count" / total, 6) AS "Percent"
         FROM cube_t CROSS JOIN tot
         WHERE gid != 3 AND "Count" >= 0.15 * total
         ORDER BY "Count" DESC, event_type, vb""",

    // autocluster: q123's cube skeleton + the pinned deterministic score
    "q131_kql_text_autocluster" ->
      """WITH base AS (
           SELECT event_type, trunc(value / 50)::BIGINT::VARCHAR AS vb FROM events),
         cube_t AS (
           SELECT coalesce(event_type, '*') AS event_type,
                  coalesce(vb, '*') AS vb,
                  count(*)::BIGINT AS cnt,
                  grouping(event_type) + 2 * grouping(vb) AS gid,
                  grouping(event_type) + grouping(vb) AS nwild
           FROM base GROUP BY CUBE (event_type, vb)),
         tot AS (SELECT cnt AS total FROM cube_t WHERE gid = 3),
         scored AS (
           SELECT *, CAST(cnt AS DOUBLE) / total * 0.5 +
                     CAST(2 - nwild AS DOUBLE) / 2 * 0.5 AS score
           FROM cube_t CROSS JOIN tot WHERE gid != 3),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY score DESC, cnt DESC, event_type, vb) - 1 AS sid
           FROM scored)
         SELECT sid AS "SegmentId", cnt AS "Count",
                round(100.0 * cnt / total, 6) AS "Percent", event_type, vb
         FROM ranked WHERE sid < 10 ORDER BY sid""",

    // diffpatterns: one cube, conditional slice counts, grand-total row
    // supplies both slice totals
    "q132_kql_text_diffpatterns" ->
      """WITH base AS (
           SELECT event_type, trunc(value / 50)::BIGINT::VARCHAR AS vb,
                  (user_id % 5)::VARCHAR AS ub
           FROM events WHERE event_type IN ('view', 'purchase')),
         cube_t AS (
           SELECT coalesce(vb, '*') AS vb, coalesce(ub, '*') AS ub,
                  (count(*) FILTER (WHERE event_type = 'view'))::BIGINT AS ca,
                  (count(*) FILTER (WHERE event_type = 'purchase'))::BIGINT AS cb,
                  grouping(vb) + 2 * grouping(ub) AS gid
           FROM base GROUP BY CUBE (vb, ub)),
         tot AS (SELECT ca AS ta, cb AS tb FROM cube_t WHERE gid = 3),
         pct AS (
           SELECT *, CASE WHEN ta > 0 THEN 100.0 * ca / ta ELSE 0.0 END AS pa,
                     CASE WHEN tb > 0 THEN 100.0 * cb / tb ELSE 0.0 END AS pb
           FROM cube_t CROSS JOIN tot WHERE gid != 3),
         fil AS (SELECT *, pa - pb AS d FROM pct WHERE abs(pa - pb) >= 2.0),
         ranked AS (
           SELECT *, row_number() OVER (ORDER BY abs(d) DESC, vb, ub) - 1 AS sid
           FROM fil)
         SELECT sid AS "SegmentId", ca AS "CountA", cb AS "CountB",
                round(pa, 6) AS "PercentA", round(pb, 6) AS "PercentB",
                round(d, 6) AS "PercentDiffAB", vb, ub
         FROM ranked ORDER BY sid""",

    // decimal: results serialize as full-scale-18 strings on BOTH sides —
    // digit-for-digit exactness is the gate, and it sidesteps the r8
    // HUGEINT/DECIMAL pandas-coercion pitfall (DuckDB decimals coerce to
    // float64 in .df(), Spark parquet decimals stay object)
    "q133_kql_text_decimal" ->
      """WITH d AS (
           SELECT event_type,
                  CAST(CAST(CAST(trunc(value * 100) AS BIGINT) AS DECIMAL(38,18)) +
                       CAST(0.125 AS DECIMAL(38,18)) AS DECIMAL(38,18)) AS d
           FROM events)
         SELECT event_type, sum(d)::VARCHAR AS sd, min(d)::VARCHAR AS mn,
                max(d)::VARCHAR AS mx, count(*) AS n
         FROM d GROUP BY event_type ORDER BY event_type""",

    // series_fit_line: q128's fill skeleton + identical OLS sums
    "q135_kql_text_series_fit" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         s AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sy,
                      sum(x * x) AS syy, sum(i * x) AS sxy,
                      CAST(sum(i) AS DOUBLE) AS sx, CAST(sum(i * i) AS DOUBLE) AS sxx
               FROM filled GROUP BY 1),
         co AS (SELECT event_type, n, sy, syy, sxy, sx, sxx,
                       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS m
                FROM s),
         co2 AS (SELECT *, (sy - m * sx) / n AS b FROM co),
         res AS (SELECT c.event_type,
                        sum((f.x - (c.b + c.m * f.i)) * (f.x - (c.b + c.m * f.i))) AS ssres
                 FROM filled f JOIN co2 c ON c.event_type = f.event_type GROUP BY 1),
         fin AS (SELECT c.*, r.ssres, c.syy - c.sy * c.sy / c.n AS sstot
                 FROM co2 c JOIN res r ON r.event_type = c.event_type)
         SELECT f2.event_type, b2.i,
                round(CASE WHEN sstot = 0 THEN 1.0 ELSE 1.0 - ssres / sstot END, 6) AS rsq,
                round(m, 6) AS m, round(sstot / (n - 1), 6) AS vr,
                round(ssres / (n - 1), 6) AS rvr, round(b, 6) AS b,
                round(b + m * b2.i, 6) AS lf
         FROM fin f2 CROSS JOIN bins b2 ORDER BY f2.event_type, b2.i""",

    // 2-line changepoint: per-(split, side) segment sums → closed-form
    // OLS → RSS; argmin split via row_number (rss, s) = the engine's
    // strict-less fold tie-break; fitted values re-joined by side
    "q173_kql_text_fit2lines" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         splits AS (SELECT s FROM unnest(range(2, 11)) AS t(s)),
         segstat AS (
           SELECT f.event_type, sp.s, (f.i < sp.s) AS ls,
                  CAST(count(*) AS DOUBLE) AS m, sum(f.x) AS sy,
                  sum(f.x * f.x) AS syy, sum(f.i * f.x) AS sxy,
                  CAST(sum(f.i) AS DOUBLE) AS sx, CAST(sum(f.i * f.i) AS DOUBLE) AS sxx
           FROM filled f CROSS JOIN splits sp GROUP BY 1, 2, 3),
         fit1 AS (SELECT *, CASE WHEN m * sxx - sx * sx = 0 THEN 0.0
                                 ELSE (m * sxy - sx * sy) / (m * sxx - sx * sx) END AS mm
                  FROM segstat),
         fit2 AS (SELECT *, (sy - mm * sx) / m AS bb FROM fit1),
         fit3 AS (SELECT *, syy - bb * sy - mm * sxy AS rss FROM fit2),
         tot AS (SELECT event_type, s, sum(rss) AS rss FROM fit3 GROUP BY 1, 2),
         best AS (SELECT event_type, s, rss FROM
                    (SELECT *, row_number() OVER
                       (PARTITION BY event_type ORDER BY rss, s) AS rn FROM tot)
                  WHERE rn = 1),
         stats AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sy,
                          sum(x * x) AS syy FROM filled GROUP BY 1),
         fin AS (SELECT b.event_type, b.s, b.rss, st.n,
                        st.syy - st.sy * st.sy / st.n AS sstot
                 FROM best b JOIN stats st USING (event_type)),
         coefs AS (SELECT f3.event_type, f3.ls, f3.mm, f3.bb
                   FROM fit3 f3 JOIN best b ON b.event_type = f3.event_type AND b.s = f3.s)
         SELECT fin.event_type, b2.i,
                round(CASE WHEN sstot = 0 THEN 1.0 ELSE 1.0 - fin.rss / sstot END, 6) AS rsq,
                fin.s AS sp,
                round(sstot / (n - 1), 6) AS vr, round(fin.rss / (n - 1), 6) AS rvr,
                round(c.bb + c.mm * b2.i, 6) AS lf
         FROM fin CROSS JOIN bins b2
         JOIN coefs c ON c.event_type = fin.event_type AND c.ls = (b2.i < fin.s)
         ORDER BY fin.event_type, b2.i""",

    // series_fill family: forward/backward indices via window max/min of
    // non-null positions, values re-joined by index
    "q136_kql_text_series_fill" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 96)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE value > 198
                    AND ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 21600000000 AS i,
                  count(*) AS c
           FROM events
           WHERE value > 198
             AND ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         f AS (SELECT k.event_type, b.i, CAST(a.c AS DOUBLE) AS x
               FROM keys k CROSS JOIN bins b
               LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         w AS (SELECT event_type, i, x,
                 max(CASE WHEN x IS NOT NULL THEN i END) OVER
                   (PARTITION BY event_type ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS li,
                 min(CASE WHEN x IS NOT NULL THEN i END) OVER
                   (PARTITION BY event_type ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
               FROM f),
         j AS (SELECT w.event_type, w.i, w.x, w.li, w.ni, fl.x AS xl, fn.x AS xn
               FROM w
               LEFT JOIN f fl ON fl.event_type = w.event_type AND fl.i = w.li
               LEFT JOIN f fn ON fn.event_type = w.event_type AND fn.i = w.ni)
         SELECT event_type, i,
                coalesce(x, -1.0) AS fc,
                coalesce(x, xl) AS ff,
                coalesce(x, xn) AS fb,
                round(CASE WHEN x IS NOT NULL THEN x
                           WHEN li IS NULL AND ni IS NULL THEN NULL
                           WHEN li IS NULL THEN xn
                           WHEN ni IS NULL THEN xl
                           ELSE xl + (xn - xl) * (i - li) / CAST(ni - li AS DOUBLE)
                      END, 6) AS fl
         FROM j ORDER BY event_type, i""",

    // periods detect: ACF via centered self-join per lag; decompose with
    // the per-type detected period (variable phase via i % bestp)
    "q137_kql_text_series_periods" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 48)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 43200000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         mu AS (SELECT event_type, sum(x) / count(*) AS mu FROM filled GROUP BY 1),
         cen AS (SELECT f.event_type, f.i, f.x, f.x - m.mu AS c
                 FROM filled f JOIN mu m USING (event_type)),
         den AS (SELECT event_type, sum(c * c) AS d FROM cen GROUP BY 1),
         lags AS (SELECT L FROM unnest(range(2, 25)) AS t(L)),
         acf AS (SELECT c1.event_type, l.L, sum(c1.c * c2.c) AS num
                 FROM cen c1 CROSS JOIN lags l
                 JOIN cen c2 ON c2.event_type = c1.event_type AND c2.i = c1.i + l.L
                 GROUP BY 1, 2),
         sc AS (SELECT a.event_type, a.L, a.num / d.d AS a
                FROM acf a JOIN den d USING (event_type)
                WHERE d.d != 0 AND a.num / d.d > 0),
         rk AS (SELECT *, row_number() OVER
                  (PARTITION BY event_type ORDER BY round(a, 9) DESC, L) AS rn
                FROM sc),
         top AS (SELECT event_type, L, a, rn FROM rk WHERE rn <= 2),
         best AS (SELECT event_type, CAST(L AS INTEGER) AS p FROM top WHERE rn = 1),
         ph AS (SELECT f.event_type, f.i % b.p AS phase, median(f.x) AS m
                FROM filled f JOIN best b USING (event_type) GROUP BY 1, 2),
         det AS (SELECT f.event_type, f.i, f.x, p.m AS se, f.x - p.m AS dd
                 FROM filled f JOIN best b USING (event_type)
                 JOIN ph p ON p.event_type = f.event_type AND p.phase = f.i % b.p),
         fit AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(dd) AS sy,
                        sum(i * dd) AS sxy, CAST(sum(i) AS DOUBLE) AS sx,
                        CAST(sum(i * i) AS DOUBLE) AS sxx
                 FROM det GROUP BY 1),
         co AS (SELECT event_type,
                       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
                       n, sx, sy
                FROM fit),
         co2 AS (SELECT event_type, slope, (sy - slope * sx) / n AS icept FROM co),
         rs AS (SELECT d.event_type,
                       round(sum(abs(d.x - (d.se + (c.icept + c.slope * d.i)))), 6) AS rsum
                FROM det d JOIN co2 c ON c.event_type = d.event_type GROUP BY 1)
         SELECT t.event_type, (t.rn - 1)::BIGINT AS i, CAST(t.L AS DOUBLE) AS p,
                round(t.a, 6) AS sc, b.p AS bestp, r.rsum
         FROM top t JOIN best b USING (event_type) JOIN rs r USING (event_type)
         ORDER BY t.event_type, i""",

    // forecast: train CTEs filter i < 12; baseline extrapolates over all
    // 16 bins. The trend slope mirrors the engine's affine recovery
    // ((icept+slope)−icept) so doubles stay bit-identical pre-rounding.
    "q138_kql_text_series_forecast" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 16)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-02-04 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-02-04 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i, CAST(coalesce(a.c, 0) AS DOUBLE) AS x
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         train AS (SELECT * FROM filled WHERE i < 12),
         ph AS (SELECT event_type, i % 4 AS phase, median(x) AS m
                FROM train GROUP BY 1, 2),
         det AS (SELECT t.event_type, t.i, t.x, p.m AS se, t.x - p.m AS d
                 FROM train t
                 JOIN ph p ON p.event_type = t.event_type AND p.phase = t.i % 4),
         fit AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(d) AS sy,
                        sum(i * d) AS sxy, CAST(sum(i) AS DOUBLE) AS sx,
                        CAST(sum(i * i) AS DOUBLE) AS sxx
                 FROM det GROUP BY 1),
         co AS (SELECT event_type,
                       CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
                            ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
                       n, sx, sy
                FROM fit),
         co2 AS (SELECT event_type, slope, (sy - slope * sx) / n AS icept FROM co),
         full_ax AS (
           SELECT f.event_type, f.i, f.x, p.m AS se,
                  c.icept + ((c.icept + c.slope) - c.icept) * f.i AS tr
           FROM filled f
           JOIN ph p ON p.event_type = f.event_type AND p.phase = f.i % 4
           JOIN co2 c ON c.event_type = f.event_type)
         SELECT event_type, i, round(se + tr, 6) AS b, round(se, 6) AS se,
                round(tr, 6) AS tr,
                round(CASE WHEN i < 12 THEN x - (se + tr) END, 6) AS r
         FROM full_ax ORDER BY event_type, i""",

    // innerunique: left side deduped to the MIN full row per key (the
    // engine's pinned determinization of Kusto's "arbitrary row"),
    // expressed as row_number over (event_id, value) — the same
    // lexicographic order as the engine's min(struct(event_id, value)).
    "q139_kql_text_innerunique" ->
      """WITH l AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id, value) AS rn
           FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, count(1) AS pn FROM events
               WHERE event_type = 'purchase' GROUP BY user_id)
         SELECT l.user_id, l.event_id, pn
         FROM l JOIN r ON l.user_id = r.user_id
         WHERE rn = 1
         ORDER BY l.user_id""",

    "q140_kql_text_scalar8" ->
      """SELECT event_id,
                167772160 + (user_id % 200) * 65536 + (event_id % 250) * 256 + 7 AS ipv,
                167772160 + (user_id % 200) * 65536 + (event_id % 250) * 256 AS masked,
                TRUE AS priv,
                (user_id % 200) = 42 AS inr,
                CAST(CASE WHEN (user_id % 200) < 100 THEN -1 ELSE 1 END AS BIGINT) AS cmpr,
                (lpad(CAST(user_id % 4 AS VARCHAR), 8, '0') ||
                 lpad(CAST(event_id % 12 AS VARCHAR), 8, '0') ||
                 '00000005' || '00000000')::DECIMAL(38,0)::VARCHAR AS ver,
                'h' || CAST(user_id % 10 AS VARCHAR) || '.example.com' AS host,
                '/p/' || event_type AS path,
                '01:23:45' AS fts
         FROM events WHERE event_id % 97 = 0
         ORDER BY event_id""",

    // reduce by: the pinned deterministic pattern rule — alnum tokens
    // containing a digit → '*' (same regex class in Java and RE2)
    "q141_kql_text_reduce" ->
      """SELECT regexp_replace(event_type || ':' || props,
                               '[A-Za-z_]*[0-9][A-Za-z0-9_]*', '*', 'g') AS Pattern,
                count(1) AS Count,
                min(event_type || ':' || props) AS Representative
         FROM events
         GROUP BY 1
         ORDER BY Count DESC, Pattern ASC
         LIMIT 20""",

    // graph-match 2-hop = two edge⋈node equi-joins
    "q142_kql_text_graph_match" ->
      """WITH E AS (
           SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'o' || CAST(o_orderkey AS VARCHAR) AS dst, o_totalprice AS w FROM orders
           UNION ALL
           SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR), l_extendedprice FROM lineitem)
         SELECT e1.src AS cust, count(1) AS n, round(sum(e2.w), 4) AS total
         FROM E e1 JOIN E e2 ON e1.dst = e2.src
         WHERE e1.src LIKE 'c%' AND e2.w > 90000.0
         GROUP BY e1.src
         ORDER BY cust""",

    // var-length 1..2 = union of the 1-hop and 2-hop chains
    "q143_kql_text_graph_varlen" ->
      """WITH E AS (
           SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  'o' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders
           UNION ALL
           SELECT 'o' || CAST(l_orderkey AS VARCHAR),
                  'p' || CAST(l_partkey AS VARCHAR) FROM lineitem),
         paths AS (
           SELECT e1.src AS a, e1.dst AS b, 1 AS hops FROM E e1
           UNION ALL
           SELECT e1.src, e2.dst, 2 FROM E e1 JOIN E e2 ON e1.dst = e2.src)
         SELECT b, count(1) FILTER (hops = 1) AS n1, count(1) FILTER (hops = 2) AS n2
         FROM paths WHERE b LIKE 'p%'
         GROUP BY b ORDER BY b LIMIT 200""",

    // single-source BFS distances ≤4 over the bipartite graph, unrolled
    // one CTE per level; min hops per reached node = the shortest-paths
    // output=any contract (walk minimum ≡ BFS distance)
    "q146_kql_text_graph_sssp" ->
      """WITH E AS (
           SELECT DISTINCT src, dst FROM (
             SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
                    'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
             UNION ALL
             SELECT 'p' || CAST(l_partkey AS VARCHAR),
                    'o' || CAST(l_orderkey AS VARCHAR) FROM lineitem)),
         r1 AS (SELECT DISTINCT dst AS n FROM E WHERE src = 'p1'),
         r2 AS (SELECT DISTINCT e.dst AS n FROM E e JOIN r1 ON e.src = r1.n),
         r3 AS (SELECT DISTINCT e.dst AS n FROM E e JOIN r2 ON e.src = r2.n),
         r4 AS (SELECT DISTINCT e.dst AS n FROM E e JOIN r3 ON e.src = r3.n),
         d AS (
           SELECT n, 1 AS h FROM r1 UNION ALL SELECT n, 2 FROM r2
           UNION ALL SELECT n, 3 FROM r3 UNION ALL SELECT n, 4 FROM r4),
         md AS (SELECT n, CAST(min(h) AS BIGINT) AS hops FROM d GROUP BY n)
         SELECT hops, count(1) AS n FROM md GROUP BY hops ORDER BY hops""",

    "q147_kql_text_geo" -> geoOracle,

    "q220_kql_text_geo2" -> geo2Oracle,

    "q221_kql_text_scalar14b" ->
      """SELECT event_id,
              32 + strlen(event_type) + strlen(props) AS eds,
              strlen(event_type) + 8 AS eds2,
              timezone('Asia/Kolkata', timezone('UTC', ts)) AS lc,
              TRUE AS rt,
              '[10,0,' || CASE WHEN user_id % 2 <> 0 THEN '30' ELSE '0' END || ']' AS ai,
              '[7,null]' AS ai2
         FROM events WHERE event_id % 61 = 0 ORDER BY event_id""",

    "q222_kql_text_rank_tdigest" ->
      """SELECT event_type, count(*) AS n,
              count(CASE WHEN user_id % 4 <= 1 THEN 1 END) AS r50,
              count(*) AS rhi, CAST(0 AS BIGINT) AS rlo
         FROM events GROUP BY event_type ORDER BY event_type""",

    // strong components: one SCC per customer (its sampled orders,
    // anchored at the min orderkey) + the one-way hub sink node -1
    "q223_kql_text_graph_scc" ->
      """WITH O AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders
                    WHERE o_orderkey % 7 = 0),
         M AS (SELECT c, min(k) AS m, count(1) AS cnt FROM O GROUP BY c)
         SELECT comp, n FROM (
           SELECT m AS comp, CAST(cnt AS BIGINT) AS n FROM M
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT))
         ORDER BY comp""",

    "q232_kql_text_geo_simplify" ->
      """SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(1) AS BIGINT) AS coll,
              CAST(count(1) AS BIGINT) AS keeps
         FROM events WHERE event_id % 97 = 0""",

    "q241_kql_text_clip" -> clipOracle,

    "q243_kql_text_polygon_boolean" -> polygonBooleanOracle,

    "q244_kql_text_line_buffer" -> lineBufferOracle,

    // joint simplify: kept-vertex counts, bump survival, noise
    // collapse, and the A/B membership split are all constructible
    // constants of the fixture (5 kept vertices + closure per output;
    // the probe sits between the straight shared edge and the bump)
    "q250_kql_text_line_clip" -> lineClipOracle,

    "q251_kql_text_union_array" -> unionArrayOracle,

    // stateful-scan running max: consumed rows only (null values are
    // skipped by the predicate), seeded at the declared 0.0 default
    "q252_kql_text_scan_state_max" ->
      """SELECT event_id,
                greatest(0.0, max(value) OVER (ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mx
         FROM events WHERE value IS NOT NULL ORDER BY event_id""",

    // stateful-scan pair machine under strict rn alternation: every even
    // row's s1 state IS the previous row (lag), matched evens complete
    // and retire, and match ids = 1 + completions strictly before the
    // row (extends keep their sequence's id, so the same formula covers
    // odd starters and extenders alike)
    "q253_kql_text_scan_state_pairs" ->
      """WITH o AS (SELECT event_id, user_id, value,
                           row_number() OVER (ORDER BY event_id) AS rn
                    FROM events),
           l AS (SELECT *, lag(user_id) OVER (ORDER BY rn) AS pu,
                        lag(value) OVER (ORDER BY rn) AS pv FROM o),
           g AS (SELECT *, CASE WHEN rn % 2 = 0 AND user_id = pu THEN 1 ELSE 0 END AS hit FROM l),
           h AS (SELECT *, 1 + coalesce(sum(hit) OVER (ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS mid FROM g)
         SELECT event_id, rn,
                round(CASE WHEN rn % 2 = 1 THEN value ELSE pv END, 6) AS v0,
                round(CASE WHEN rn % 2 = 1 THEN -1.0 ELSE value - pv END, 6) + 0.0 AS gap,
                CAST(mid AS BIGINT) AS m
         FROM h WHERE rn % 2 = 1 OR hit = 1
         ORDER BY event_id""",

    "q254_kql_text_polygon_degenerate" -> polygonDegenerateOracle,
    // q255 must equal the SNAPPED truth — q254's oracle verbatim (the
    // 1e-12° perturbation quantizes away; dx/dy are the unperturbed
    // lattice values on both sides)
    "q255_kql_text_polygon_snapround" -> polygonDegenerateOracle,

    "q249_kql_text_joint_simplify" ->
      """SELECT event_id,
              CAST(8 AS BIGINT) AS na, CAST(8 AS BIGINT) AS nb,
              true AS bump_both, true AS noise_gone,
              true AS am, false AS bm
         FROM events WHERE event_id % 97 = 0 ORDER BY event_id""",

    "q245_kql_text_line_lookup" -> lineLookupOracle,

    "q246_kql_text_polygon_buffer" -> polygonBufferOracle,

    "q242_kql_text_in_semijoin" ->
      """WITH big AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 900.0)
         SELECT l_returnflag,
                CAST(count(1) AS BIGINT) AS n,
                CAST(count(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM big)
                                THEN 1 END) AS BIGINT) AS hits,
                CAST(count(CASE WHEN l_orderkey NOT IN (SELECT o_orderkey FROM big)
                                THEN 1 END) AS BIGINT) AS misses,
                round(sum(l_quantity), 4) + 0.0 AS qty
           FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM big) OR l_quantity >= 25.0
          GROUP BY 1 ORDER BY l_returnflag""",

    "q239_kql_text_polygon_lookup" ->
      """SELECT event_id, lon, lat,
              CASE WHEN lon > -20 AND lon < -5 AND lat > -15 AND lat < 5 THEN 'a'
                   WHEN lon > 5 AND lon < 25 AND lat > 0 AND lat < 15 THEN 'b'
                   WHEN lon > -30 AND lon < -22 AND lat > 8 AND lat < 18
                        AND NOT (lon > -28 AND lon < -24 AND lat > 10 AND lat < 14) THEN 'c'
                   ELSE NULL END AS zone
         FROM (SELECT event_id,
                      CAST(user_id % 60 AS DOUBLE) - 30.0 + 0.25 AS lon,
                      CAST(event_id % 40 AS DOUBLE) - 20.0 + 0.25 AS lat
               FROM events WHERE event_id % 97 = 0)
         ORDER BY event_id""",

    "q238_kql_text_point_buffer" ->
      """SELECT event_id,
              2000.0 + 1000.0 * CAST(user_id % 3 AS DOUBLE) AS rad,
              50.0 + 50.0 * CAST(event_id % 4 AS DOUBLE) AS tol,
              CAST(greatest(4, least(16384, ceil(pi() / acos(1.0 -
                least(50.0 + 50.0 * CAST(event_id % 4 AS DOUBLE),
                      2000.0 + 1000.0 * CAST(user_id % 3 AS DOUBLE)) /
                (2000.0 + 1000.0 * CAST(user_id % 3 AS DOUBLE)))))) + 1 AS BIGINT) AS np,
              true AS cin, true AS v0ok, true AS nin, true AS fout
         FROM events WHERE event_id % 97 = 0 ORDER BY event_id""",

    "q237_kql_text_line_cover" ->
      """SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(1) AS BIGINT) AS v1s,
              CAST(count(1) AS BIGINT) AS v2s,
              CAST(count(1) AS BIGINT) AS v3s,
              CAST(count(1) AS BIGINT) AS m1s,
              CAST(count(1) AS BIGINT) AS m2s,
              CAST(count(1) AS BIGINT) AS mos,
              CAST(count(1) AS BIGINT) AS nes
         FROM events WHERE event_id % 89 = 0""",

    "q236_kql_text_geo_densify" ->
      """WITH base AS (
           SELECT event_id, CAST(event_id % 120 AS DOUBLE) - 60.0 + 0.25 AS ly
           FROM events WHERE event_id % 97 = 0),
         s1 AS (
           SELECT *, list_transform(range(17), k -> {'w': 10.0 / pow(2.0, k)}) AS ws
           FROM base),
         s2 AS (
           SELECT *, list_transform(ws, s -> {
                    'w': s.w,
                    'bx': cos(radians(ly)) * cos(radians(s.w)),
                    'by': cos(radians(ly)) * sin(radians(s.w))}) AS sb
           FROM s1),
         s3 AS (
           SELECT *, list_transform(sb, s -> {
                    'gy': degrees(atan2(sin(radians(ly)) + sin(radians(ly)),
                          sqrt(pow(cos(radians(ly)) + s.bx, 2) + pow(s.by, 2)))),
                    'gx': degrees(radians(0.25) + atan2(s.by, cos(radians(ly)) + s.bx)),
                    'mx': 0.25 + s.w / 2.0}) AS sg
           FROM s2),
         s4 AS (
           SELECT *, list_transform(sg, s ->
                    2.0 * 6371009.0 * asin(sqrt(
                      pow(sin(radians(s.gy - ly) / 2.0), 2) +
                      cos(radians(ly)) * cos(radians(s.gy)) *
                        pow(sin(radians(s.gx - s.mx) / 2.0), 2)))) AS devs
           FROM s3)
         SELECT event_id, ly,
                CAST(pow(2.0, len(list_filter(devs, d -> d > 100.0))) + 1 AS BIGINT) AS n,
                true AS lat_ok, true AS ends_ok, true AS tol_null, true AS mer_id
         FROM s4 ORDER BY event_id""",

    "q235_kql_text_geo_intersects" ->
      """SELECT event_id,
                (abs(u) <= 2.0) AS l2,
                (px < 10.0 AND px + 6.0 > 0.0 AND py > 0.0 AND py < 10.0) AS lwp,
                (px < 10.0 AND px + 4.0 > 0.0 AND py < 10.0 AND py + 4.0 > 0.0) AS pp,
                true AS ia, true AS ib, true AS ci, true AS oa, true AS ob
         FROM (SELECT event_id,
                      CAST(user_id % 120 AS DOUBLE) - 60.0 + 0.25 AS px,
                      CAST(event_id % 80 AS DOUBLE) - 40.0 + 0.25 AS py,
                      CAST(event_id % 7 AS DOUBLE) - 3.0 AS u
               FROM events WHERE event_id % 97 = 0)
         ORDER BY event_id""",

    "q234_kql_text_strays3" ->
      """WITH base AS (
           SELECT event_id, user_id % 3 AS kk, CAST(user_id % 3 AS DOUBLE) AS k,
                  event_type, props
           FROM events WHERE event_id % 499 = 0),
         ser AS (
           SELECT *, list_transform(range(12), i ->
                    (CASE WHEN i % 4 = 0 THEN 9.0 ELSE 0.0 END) +
                    CAST((i * kk) % 3 AS DOUBLE)) AS p
           FROM base),
         cen AS (
           SELECT *, list_transform(p, v -> v - list_sum(p) / 12.0) AS c FROM ser),
         sc AS (
           SELECT *,
                  list_sum(list_transform(c, v -> v * v)) AS den,
                  list_sum(list_transform(range(8), i -> c[i + 1] * c[i + 5])) AS num4,
                  list_sum(list_transform(range(6), i -> c[i + 1] * c[i + 7])) AS num6
           FROM cen)
         SELECT event_id, k,
                5.0 AS fl_m, 3.0 * k AS fl_b, 1.0 AS fl_r, 87.5 AS fl_v,
                CAST(4 AS BIGINT) AS f2_sp, 1.0 AS f2_r,
                1.0 AS f2_lm, k AS f2_lb, 4.0 AS f2_rm, 10.0 * k + 12.0 AS f2_rb,
                true AS f2n,
                round(CASE WHEN den = 0 THEN 0.0 ELSE greatest(0.0, num4 / den) END, 6) AS s4,
                round(CASE WHEN den = 0 THEN 0.0 ELSE greatest(0.0, num6 / den) END, 6) AS s6,
                0.0 AS s200,
                replace(replace(event_type, 'er', 'ER'), 'e', '3') AS rs,
                true AS rsn,
                '[''a''];[''a''][''b''];[''c''];[''c''][0];[''c''][0][''d'']' AS tp,
                list_aggregate(list_transform(json_keys(props), x -> '[''' || x || ''']'), 'string_agg', ';') AS tpd
         FROM sc ORDER BY event_id""",

    "q233_kql_text_cell_polygons" ->
      """SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(1) AS BIGINT) AS ghs,
              CAST(count(1) AS BIGINT) AS s2s,
              CAST(count(1) AS BIGINT) AS dzs,
              CAST(count(1) AS BIGINT) AS gas
         FROM events WHERE event_id % 89 = 0""",

    "q231_kql_text_udf_in" ->
      """WITH topusers AS (
           SELECT user_id FROM events GROUP BY user_id HAVING sum(value) > 150.0)
         SELECT event_type,
                CASE WHEN value >= 100.0 THEN 'big'
                     WHEN value >= 10.0 THEN 'mid' ELSE 'small' END AS b,
                CAST(count(1) AS BIGINT) AS n,
                round(sum(value), 4) + 0.0 AS sv
         FROM events WHERE user_id IN (SELECT user_id FROM topusers)
         GROUP BY 1, 2 ORDER BY event_type, b""",

    // covering join: inside_n is the analytic rectangle count (grid
    // offsets keep points off ring boundaries); completeness and
    // supersetness collapse to n
    "q230_kql_text_s2cover_join" ->
      """WITH e AS (
           SELECT CAST(user_id % 120 AS DOUBLE) - 60.0 + 0.25 AS lon,
                  CAST(event_id % 80 AS DOUBLE) - 40.0 + 0.25 AS lat
           FROM events WHERE event_id % 89 = 0)
         SELECT CAST(count(1) AS BIGINT) AS n,
                CAST(count(CASE WHEN lon > -20 AND lon < 25 AND lat > -15 AND lat < 18
                           THEN 1 END) AS BIGINT) AS inside_n,
                CAST(count(1) AS BIGINT) AS complete,
                CAST(count(1) AS BIGINT) AS superset
         FROM e""",

    // geo ring 4 invariants collapse to counts (grid stays ≥ 5° off
    // the poles so the geohash 8-cell is always full)
    "q229_kql_text_geo4" ->
      """SELECT CAST(count(1) AS BIGINT) AS n,
              CAST(count(1) AS BIGINT) AS ghs,
              CAST(count(1) AS BIGINT) AS s2s,
              CAST(count(1) AS BIGINT) AS lcs,
              CAST(count(1) AS BIGINT) AS pcs
         FROM events WHERE event_id % 89 = 0""",

    // activity_metrics: days 19727..19747 (2024-01-05..2024-01-25);
    // retained(t) = ids whose previous active day is exactly t-1
    "q228_kql_text_activity_full" ->
      """WITH acts AS (
           SELECT DISTINCT user_id AS id, epoch_us(ts) // 86400000000 AS b
           FROM events),
         sl AS (SELECT * FROM acts WHERE b BETWEEN 19727 AND 19747),
         f AS (
           SELECT b,
                  lag(b) OVER (PARTITION BY id ORDER BY b) AS pb,
                  row_number() OVER (PARTITION BY id ORDER BY b) AS rn
           FROM sl),
         per AS (
           SELECT b, count(1) AS d,
                  count(CASE WHEN pb = b - 1 THEN 1 END) AS r,
                  count(CASE WHEN rn = 1 THEN 1 END) AS n
           FROM f GROUP BY b),
         axis AS (SELECT r.range AS t FROM range(19727, 19748) r),
         j AS (
           SELECT t, coalesce(d, 0) AS d, coalesce(r, 0) AS r, coalesce(n, 0) AS n
           FROM axis LEFT JOIN per ON t = b),
         w AS (SELECT *, lag(d) OVER (ORDER BY t) AS prevd FROM j)
         SELECT make_timestamp(t * 86400000000) AS ts,
                CAST(d AS BIGINT) AS dcount_values,
                CAST(n AS BIGINT) AS dcount_newvalues,
                CASE WHEN coalesce(prevd, 0) = 0 THEN 0.0
                     ELSE round(r / CAST(prevd AS DOUBLE), 6) + 0.0 END AS rr,
                CASE WHEN coalesce(prevd, 0) = 0 THEN 0.0
                     ELSE round((prevd - r) / CAST(prevd AS DOUBLE), 6) + 0.0 END AS cr
         FROM w ORDER BY ts""",

    // point-to-line: the cross-track/along-track formulas restated in
    // the engine's exact op order (segDistM — keep in sync)
    "q227_kql_text_pt_to_line" ->
      """WITH e AS (
           SELECT event_id,
                  CAST(user_id % 80 AS DOUBLE) - 40.0 + 0.5 AS px,
                  CAST(event_id % 60 AS DOUBLE) - 30.0 + 0.5 AS py
           FROM events WHERE event_id % 97 = 0),
         c AS (
           SELECT event_id, px, py,
             2*asin(sqrt(pow(sin(radians(py - 0.0)/2), 2) +
               cos(radians(0.0))*cos(radians(py))*pow(sin(radians(px - (-20.0))/2), 2))) AS d13,
             2*asin(sqrt(pow(sin(radians(0.0 - 0.0)/2), 2) +
               cos(radians(0.0))*cos(radians(0.0))*pow(sin(radians(20.0 - (-20.0))/2), 2))) AS d12,
             atan2(sin(radians(px - (-20.0)))*cos(radians(py)),
               cos(radians(0.0))*sin(radians(py)) -
               sin(radians(0.0))*cos(radians(py))*cos(radians(px - (-20.0)))) AS t13,
             atan2(sin(radians(20.0 - (-20.0)))*cos(radians(0.0)),
               cos(radians(0.0))*sin(radians(0.0)) -
               sin(radians(0.0))*cos(radians(0.0))*cos(radians(20.0 - (-20.0)))) AS t12
           FROM e),
         dd AS (
           SELECT *, asin(greatest(-1.0, least(1.0, sin(d13)*sin(t13 - t12)))) AS dxt FROM c),
         f AS (
           SELECT *, acos(greatest(-1.0, least(1.0, cos(d13)/cos(dxt)))) * sign(cos(t13 - t12)) AS dat
           FROM dd),
         g AS (
           SELECT event_id, px, py,
             CASE WHEN d12 = 0.0 THEN d13 * 6371009.0
                  WHEN dat <= 0.0 THEN d13 * 6371009.0
                  WHEN dat >= d12 THEN
                    2*asin(sqrt(pow(sin(radians(py - 0.0)/2), 2) +
                      cos(radians(0.0))*cos(radians(py))*pow(sin(radians(px - 20.0)/2), 2))) * 6371009.0
                  ELSE abs(dxt) * 6371009.0 END AS dist
           FROM f)
         SELECT event_id, px, py, round(dist, 3) + 0.0 AS d, TRUE AS bad
         FROM g ORDER BY event_id""",

    // guid base64: DuckDB restates the .NET byte order by reordering
    // the guid's hex pairs (3,2,1,0 / 5,4 / 7,6 / 8..15) before base64
    "q226_kql_text_strays2" ->
      """WITH b AS (
           SELECT event_id,
                  '10.' || CAST(user_id % 250 AS VARCHAR) || '.' ||
                    CAST(event_id % 256 AS VARCHAR) || '.9' AS ip,
                  10 * 16777216 + (user_id % 250) * 65536 + (event_id % 256) * 256 + 9 AS ipv,
                  'aaaaaaaabbbb4ccc8ddd' || printf('%012x', user_id * 65536 + event_id % 65536) AS h
           FROM events WHERE event_id % 101 = 0)
         SELECT event_id,
                TRUE AS any1, FALSE AS any2, TRUE AS any3, TRUE AS any6,
                CAST(ipv - ipv % 1048576 AS BIGINT) AS m,
                base64(from_hex(
                  substr(h, 7, 2) || substr(h, 5, 2) || substr(h, 3, 2) || substr(h, 1, 2) ||
                  substr(h, 11, 2) || substr(h, 9, 2) ||
                  substr(h, 15, 2) || substr(h, 13, 2) ||
                  substr(h, 17, 16))) AS ge,
                TRUE AS grt, event_type AS ce, 'fallback' AS cm
         FROM b JOIN events USING (event_id)
         ORDER BY event_id""",

    // S2 invariants: every gate column collapses to a count the oracle
    // states exactly; distinct points computed independently in DuckDB
    "q225_kql_text_s2cell" ->
      """WITH e AS (
           SELECT CAST(user_id % 360 AS DOUBLE) - 180.0 + 0.25 AS lon,
                  CAST(event_id % 170 AS DOUBLE) - 85.0 + 0.25 AS lat
           FROM events WHERE event_id % 89 = 0)
         SELECT CAST(count(1) AS BIGINT) AS n,
                CAST(count(1) AS BIGINT) AS lens,
                CAST(count(1) AS BIGINT) AS rts,
                CAST(count(1) AS BIGINT) AS nears,
                CAST(count(DISTINCT CAST(lon AS VARCHAR) || ',' || CAST(lat AS VARCHAR)) AS BIGINT) AS points,
                TRUE AS bijective
         FROM e""",

    "q224_kql_text_scalar_strays" ->
      """SELECT event_id,
              regexp_replace(event_type, '([aeiou])', '<\1>', 'g') AS rr,
              ceil(value / 7.0) + 0.0 AS ce,
              ceil(0.0 - value / 7.0) + 0.0 AS cn,
              event_id * 3 AS cl,
              CAST(len(regexp_extract_all(event_type, '[aeiou]+')) AS BIGINT) AS cr,
              array_to_string(list_transform(range(1, strlen(event_type) + 1),
                i -> ord(substr(event_type, CAST(i AS INT), 1))), ',') AS u8,
              '0000:0000:0000:0000:0000:ffff:' ||
                printf('%04x', 10 * 256 + user_id % 200) || ':' ||
                printf('%04x', (event_id % 256) * 256 + 7) AS ip4,
              CAST(NULL AS VARCHAR) AS ipz
         FROM events WHERE event_id % 97 = 0 ORDER BY event_id""",

    "q150_kql_text_binagg" -> s"""
      WITH base AS (SELECT event_type, trunc(value * 100)::BIGINT AS b FROM events),
      agg AS (SELECT event_type, bit_or(b) AS all_or, bit_and(b) AS all_and,
                     bit_xor(b) AS all_xor, count(1) AS n
              FROM base GROUP BY event_type)
      SELECT event_type, all_or, all_and, all_xor, n,
             ${formatBytesSql("all_or * 1000", 1)} AS fb,
             ${formatBytesSql("all_and", 0)} AS fb0
      FROM agg ORDER BY event_type""",

    "q151_kql_text_engagement" ->
      """WITH acts AS (
           SELECT DISTINCT user_id AS id,
                  CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS b
           FROM events),
         inner_t AS (SELECT b, count(DISTINCT id) AS inner_n FROM acts GROUP BY b),
         outer_t AS (
           SELECT b + d AS c, count(DISTINCT id) AS outer_n
           FROM acts, unnest(range(7)) AS t(d)
           GROUP BY b + d)
         SELECT make_timestamp(b * 86400000000) AS ts, inner_n, outer_n,
                round(inner_n::DOUBLE / outer_n, 6) AS ratio
         FROM inner_t JOIN outer_t ON b = c ORDER BY ts""",

    "q152_kql_text_session_count" ->
      """WITH lagged AS (
           SELECT ts, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         starts AS (SELECT * FROM lagged WHERE prev IS NULL OR prev < us - 43200000000)
         SELECT make_timestamp(CAST(floor(us / 86400000000.0) AS BIGINT) * 86400000000) AS ts,
                CAST(count(1) AS BIGINT) AS count_sessions
         FROM starts GROUP BY 1 ORDER BY ts""",

    // star components: node count per component = 1 customer + its orders
    "q149_kql_text_graph_components" ->
      """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS comp,
                CAST(count(1) + 1 AS BIGINT) AS n
         FROM orders WHERE o_orderkey % 3 = 0
         GROUP BY o_custkey ORDER BY comp LIMIT 100""",

    "q124_kql_text_find" ->
      """SELECT * FROM (
           SELECT 'purchases' AS source_, event_id, event_type, value FROM events
           WHERE event_type = 'purchase' AND value > 180
           UNION ALL
           SELECT 'errors', event_id, event_type, value FROM events
           WHERE event_type = 'error' AND value > 180)
         ORDER BY event_id""",

    // scalar ring 10: every constructor unrolled to its exact value
    "q153_kql_text_scalar10" ->
      """SELECT event_id,
                CAST(93784500000 AS BIGINT) AS ts1,
                CAST(((user_id % 3) * 3600 + 1800) * 1000000 AS BIGINT) AS ts2,
                CAST(5400000000 AS BIGINT) AS ts3,
                CAST(93784500000 AS BIGINT) AS mts,
                make_timestamp(2024, 3, user_id % 25 + 1, 12, 30, 15.0) AS md,
                make_timestamp((1700000000 + user_id) * 1000000) AS ue,
                make_timestamp(1700000000123 * 1000) AS um2,
                '10.0.' || CAST(((167772161 + user_id % 1000) // 256) % 256 AS VARCHAR)
                        || '.' || CAST((167772161 + user_id % 1000) % 256 AS VARCHAR) AS fip,
                '192.168.' || CAST(user_id % 200 AS VARCHAR) || '.0/24' AS fmask,
                CAST(2 AS BIGINT) AS ir,
                '[' || array_to_string(list_transform(range(1, length(event_type) + 1),
                        i -> ord(substr(event_type, CAST(i AS INT), 1))), ',') || ']' AS barr,
                CASE WHEN user_id % 2 = 0 THEN '[1,0,3]' ELSE '[1,0,0]' END AS aiff
         FROM events WHERE event_id % 101 = 0
         ORDER BY event_id""",

    // sliding_window_counts: bins are epoch days (bin = 1d); 2024-01-05
    // = day 19727, 2024-01-25 = day 19747, W = 7
    "q156_kql_text_sliding_counts" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b FROM events),
         contrib AS (
           SELECT user_id, t.t AS t
           FROM ev, unnest(range(greatest(b, 19727), least(b + 6, 19747) + 1)) AS t(t)
           WHERE b BETWEEN 19721 AND 19747),
         counts AS (SELECT t, CAST(count(1) AS BIGINT) AS c,
                           CAST(count(DISTINCT user_id) AS BIGINT) AS d
                    FROM contrib GROUP BY t),
         axis AS (SELECT r.range AS t FROM range(19727, 19748) r)
         SELECT make_timestamp(t * 86400000000) AS ts,
                CAST(coalesce(c, 0) AS BIGINT) AS Count,
                CAST(coalesce(d, 0) AS BIGINT) AS Dcount
         FROM axis LEFT JOIN counts USING (t) ORDER BY ts""",

    // activity_counts_metrics: first-seen = min bin per id within the
    // [Start, End] slice (pinned); aggregated = running sum of new
    "q157_kql_text_activity_metrics" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b FROM events
                     WHERE epoch_us(ts) // 86400000000 BETWEEN 19727 AND 19747),
         per_bin AS (SELECT b, CAST(count(1) AS BIGINT) AS c,
                            CAST(count(DISTINCT user_id) AS BIGINT) AS d
                     FROM ev GROUP BY b),
         fs AS (SELECT user_id, min(b) AS fb FROM ev GROUP BY user_id),
         nw AS (SELECT fb, CAST(count(1) AS BIGINT) AS nd FROM fs GROUP BY fb),
         axis AS (SELECT r.range AS t FROM range(19727, 19748) r),
         joined AS (SELECT t, coalesce(c, 0) AS c, coalesce(d, 0) AS d, coalesce(nd, 0) AS nd
                    FROM axis LEFT JOIN per_bin ON t = b LEFT JOIN nw ON t = fb)
         SELECT make_timestamp(t * 86400000000) AS ts,
                CAST(c AS BIGINT) AS "count", CAST(d AS BIGINT) AS dcount,
                CAST(nd AS BIGINT) AS new_dcount,
                CAST(sum(nd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS aggregated_dcount
         FROM joined ORDER BY ts""",

    // rolling_percentile: trailing (t−4, t] 6h-bin window, exact
    // interpolated median (quantile_cont = Spark percentile)
    "q158_kql_text_rolling_pctile" ->
      """WITH ev AS (SELECT value, epoch_us(ts) // 21600000000 AS b FROM events
                     WHERE event_type = 'purchase'),
         contrib AS (SELECT value, t.t AS t FROM ev, unnest(range(b, b + 4)) AS t(t))
         SELECT make_timestamp(t * 21600000000) AS ts,
                round(quantile_cont(value, 0.5), 6) AS r
         FROM contrib GROUP BY t ORDER BY ts""",

    // cohort retention matrix: first-seen bin per id within the slice,
    // retained = cohort ∩ active-at-to, churn = cohort ∖ active-at-to
    "q160_kql_text_retention" ->
      """WITH acts AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS b FROM events
                       WHERE epoch_us(ts) // 86400000000 BETWEEN 19727 AND 19734),
         fs AS (SELECT user_id, min(b) AS f FROM acts GROUP BY user_id),
         ret AS (SELECT f, b, CAST(count(DISTINCT a.user_id) AS BIGINT) AS r
                 FROM acts a JOIN fs USING (user_id) GROUP BY f, b),
         nw AS (SELECT f AS nf, r AS n FROM ret WHERE f = b),
         axis AS (SELECT fa.range AS fr, ta.range AS tb
                  FROM range(19727, 19735) fa, range(19727, 19735) ta
                  WHERE fa.range <= ta.range)
         SELECT make_timestamp(fr * 86400000000) AS from_ts,
                make_timestamp(tb * 86400000000) AS to_ts,
                CAST(coalesce(n, 0) AS BIGINT) AS dcount_new_values,
                CAST(coalesce(r, 0) AS BIGINT) AS dcount_retained_values,
                CAST(coalesce(n, 0) - coalesce(r, 0) AS BIGINT) AS dcount_churn_values,
                round(CASE WHEN coalesce(n, 0) = 0 THEN 0.0
                           ELSE coalesce(r, 0)::DOUBLE / n END, 6) AS rr,
                round(CASE WHEN coalesce(n, 0) = 0 THEN 0.0
                           ELSE (n - coalesce(r, 0))::DOUBLE / n END, 6) AS cr
         FROM axis LEFT JOIN nw ON fr = nf LEFT JOIN ret ON fr = f AND tb = b
         ORDER BY from_ts, to_ts""",

    // series ring 4: 28-day axis, per-phase-median seasonal (period 7,
    // exactly 4 samples per phase → median = mean of middle two),
    // sequential-fold vector algebra, IIR unrolled as a left fold
    "q162_kql_text_series4" ->
      """WITH axis AS (SELECT r.range AS d FROM range(0, 28) r),
         types AS (SELECT DISTINCT event_type FROM events),
         cnt AS (SELECT event_type,
                        (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) // 86400000000 AS d,
                        CAST(count(1) AS BIGINT) AS c
                 FROM events
                 WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-29'
                 GROUP BY 1, 2),
         ser AS (SELECT t.event_type,
                        list(CAST(coalesce(c, 0) AS DOUBLE) ORDER BY a.d) AS v
                 FROM types t CROSS JOIN axis a
                 LEFT JOIN cnt ON cnt.event_type = t.event_type AND cnt.d = a.d
                 GROUP BY t.event_type),
         med AS (SELECT event_type, v,
                        list_transform(range(0, 7), ph ->
                          (list_sort([v[ph+1], v[ph+8], v[ph+15], v[ph+22]])[2] +
                           list_sort([v[ph+1], v[ph+8], v[ph+15], v[ph+22]])[3]) / 2.0) AS meds
                 FROM ser),
         sea AS (SELECT event_type, v,
                        list_transform(range(0, 28), i -> meds[i % 7 + 1]) AS season
                 FROM med),
         calc AS (SELECT event_type,
                         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                              (s, x) -> s + x)) AS mag,
                         sqrt(list_reduce(list_prepend(0.0, list_transform(season, x -> x * x)),
                              (s, x) -> s + x)) AS smag,
                         list_reduce(list_prepend(0.0,
                              list_transform(range(0, 28), i -> v[i+1] * season[i+1])),
                              (s, x) -> s + x) AS dp,
                         list_reduce(list_prepend(0.0, v), (acc, x) -> x + 0.5 * acc) AS liir
                  FROM sea)
         SELECT event_type, round(mag, 6) AS mag, round(smag, 6) AS smag,
                round(dp, 6) AS dp,
                round(CASE WHEN mag * smag = 0 THEN 0.0 ELSE dp / (mag * smag) END, 6) AS cs,
                round(liir, 6) AS last_iir
         FROM calc ORDER BY event_type""",

    // ipv6 ring: canonical form and prefix matches derived from the
    // SAME user_id arithmetic the engine-side strings are built from
    "q163_kql_text_ipv6" ->
      """SELECT event_id,
                '2001:0db8:0000:0000:0000:0000:0000:' ||
                  lpad(format('{:x}', user_id % 65536), 4, '0') AS canon,
                CAST(CASE WHEN user_id % 65536 < 32768 THEN -1
                          WHEN user_id % 65536 > 32768 THEN 1 ELSE 0 END AS BIGINT) AS cmp,
                TRUE AS m1, TRUE AS m2, TRUE AS m3, FALSE AS m5,
                (user_id % 200) >= 128 AS m4
         FROM events WHERE event_id % 97 = 0
         ORDER BY event_id""",

    // parse_xml: expected JSON reconstructed from the same columns
    "q165_kql_text_parsexml" ->
      """SELECT event_id,
                '{"row":{"@id":"' || CAST(event_id AS VARCHAR) || '","u":"' ||
                CAST(user_id AS VARCHAR) || '","t":["' || event_type ||
                '","x"],"e":null}}' AS j,
                CAST(user_id AS VARCHAR) AS uid
         FROM events WHERE event_id % 97 = 0
         ORDER BY event_id""",

    // funnel_sequence: immediate view→click runs, gap ≤ 12h, binned by
    // start day; edge prev/next pinned to ''
    "q166_kql_text_funnel_seq" ->
      """WITH ev AS (SELECT user_id, ts, event_type FROM events
                     WHERE ts >= TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-31'),
         w AS (SELECT user_id, ts, event_type,
                      lead(event_type, 1) OVER win AS s2,
                      epoch_us(lead(ts, 1) OVER win) - epoch_us(ts) AS gap1,
                      coalesce(lag(event_type, 1) OVER win, '') AS pv,
                      coalesce(lead(event_type, 2) OVER win, '') AS nx
               FROM ev WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_type)),
         m AS (SELECT * FROM w WHERE event_type = 'view' AND s2 = 'click'
                                 AND gap1 <= 43200000000)
         SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS ts,
                pv AS prev, nx AS next,
                CAST(count(1) AS BIGINT) AS count_sequences,
                CAST(count(DISTINCT user_id) AS BIGINT) AS dcount_ids
         FROM m GROUP BY 1, 2, 3 ORDER BY ts, prev, next""",

    // scalar ring 11: every component reconstructed from the same
    // column arithmetic the engine-side strings are built from
    "q167_kql_text_scalar11" ->
      """SELECT event_id,
                event_type || '_' || CAST(event_id AS VARCHAR) || '.json' AS fn,
                'json' AS ex, 'events' AS dn,
                'C:\' AS wr, 'zone' AS wa,
                'f' || CAST(event_id AS VARCHAR) || '.csv' AS wf,
                CAST(event_id AS VARCHAR) AS qid, event_type AS qt
         FROM events WHERE event_id % 101 = 0
         ORDER BY event_id""",

    // bag mutators: expected JSON rebuilt from the same columns;
    // first-bag-wins merge keeps ty, adds u; set_key of a numeric
    // string stores a number
    "q170_kql_text_bags" ->
      """SELECT event_id,
                '{"id":' || CAST(event_id AS VARCHAR) || ',"ty":"' || event_type ||
                  '","u":' || CAST(user_id AS VARCHAR) || '}' AS m,
                '{"ty":"' || event_type || '","u":' || CAST(user_id AS VARCHAR) || '}' AS rm,
                '{"id":' || CAST(event_id AS VARCHAR) || ',"ty":"' || event_type ||
                  '","n":' || CAST(user_id AS VARCHAR) || '}' AS sk,
                event_type AS ej
         FROM events WHERE event_id % 101 = 0
         ORDER BY event_id""",

    // generalized partition: window top-4 per event_type on the doubled
    // value, then per-(event_type, band) counts with the key projected away
    "q171_kql_text_partition" ->
      """WITH f AS (SELECT event_type, event_id,
                           round(value * 2.0, 4) AS v2
                    FROM events WHERE event_id % 5 = 0 AND value >= 5),
           r AS (SELECT *, row_number() OVER
                     (PARTITION BY event_type ORDER BY v2 DESC, event_id) AS rn
                 FROM f),
           k AS (SELECT * FROM r WHERE rn <= 4)
         SELECT event_id % 2 AS band, count(*) AS picked, max(v2) AS top_v2
         FROM k GROUP BY event_type, event_id % 2
         ORDER BY band, picked, top_v2""",

    // weighted nearest-rank percentiles via window cumsum; collects as
    // ordered string_aggs; with_nulls length = group count
    "q172_kql_text_agg_ring12" ->
      """WITH f AS (SELECT user_id % 5 AS band, CAST(user_id % 7 + 1 AS DOUBLE) AS w,
                           value, event_type FROM events WHERE event_id % 11 = 0),
           c AS (SELECT band, value,
                        sum(w) OVER (PARTITION BY band ORDER BY value, w
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(w) OVER (PARTITION BY band) AS tot FROM f),
           pcts AS (SELECT band,
                           min(CASE WHEN cum >= 0.5 * tot THEN value END) AS pw,
                           min(CASE WHEN cum >= 0.25 * tot THEN value END) AS p25,
                           min(CASE WHEN cum >= 0.9 * tot THEN value END) AS p90
                    FROM c GROUP BY band),
           st AS (SELECT band, string_agg(et, '|' ORDER BY et) AS st
                  FROM (SELECT DISTINCT band, event_type AS et FROM f WHERE value > 50)
                  GROUP BY band),
           lst AS (SELECT band, string_agg(CAST(CAST(trunc(value) AS BIGINT) AS VARCHAR),
                                           '|' ORDER BY CAST(trunc(value) AS BIGINT)) AS lst
                   FROM f WHERE value < 10 GROUP BY band),
           nn AS (SELECT band, count(*) AS n_all,
                         count(CASE WHEN value > 90 THEN 1 END) AS n_val
                  FROM f GROUP BY band),
           mb AS (SELECT band, '{' || string_agg('"' || et || '":1', ',' ORDER BY et) || '}' AS mb
                  FROM (SELECT DISTINCT band, event_type AS et FROM f) GROUP BY band)
         SELECT pcts.band, pw, p25, p90,
                coalesce(st.st, '') AS st, coalesce(lst.lst, '') AS lst,
                n_all, n_val, mb.mb
         FROM pcts JOIN nn USING (band) JOIN mb USING (band)
              LEFT JOIN st USING (band) LEFT JOIN lst USING (band)
         ORDER BY band""",

    // LPM decision tree hand-derived: /24 beats /16 beats /8; the
    // 172.16/12 range never matches a 10.x address
    "q174_kql_text_ipv4_lookup" ->
      """WITH f AS (SELECT user_id % 20 AS x, event_id % 30 AS y
                    FROM events WHERE event_id % 13 = 0),
         m AS (SELECT CASE WHEN x = 5 AND y = 12 THEN '10.5.12.0/24'
                           WHEN x = 5 THEN '10.5.0.0/16'
                           WHEN x = 17 THEN '10.17.0.0/16'
                           ELSE '10.0.0.0/8' END AS network,
                      CASE WHEN x = 5 AND y = 12 THEN 'c12'
                           WHEN x = 5 THEN 'b5'
                           WHEN x = 17 THEN 'b17'
                           ELSE 'all10' END AS tier
               FROM f)
         SELECT network, tier, count(*) AS n FROM m
         GROUP BY network, tier ORDER BY network""",

    // pinned log-histogram replicated: bucket = ceil(round(ln v / ln γ,
    // 9)), γ = 101/99; nearest-rank target over cumulative bucket
    // counts; estimate = 2/(γ+1)·γ^i rounded 6dp (all values positive
    // in this table, so no sign/zero classes in play)
    "q175_kql_text_tdigest" ->
      """WITH b AS (SELECT event_type,
                           CASE WHEN value < 1e-300 THEN NULL
                                ELSE CAST(ceil(round(ln(value) / ln(101.0/99.0), 9)) AS INT) END AS i,
                           count(*) AS c
                    FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, sum(c) AS n FROM b GROUP BY 1),
         cum AS (SELECT event_type, i,
                        sum(c) OVER (PARTITION BY event_type ORDER BY i NULLS FIRST) AS cum
                 FROM b),
         ps AS (SELECT * FROM (VALUES (50.0), (95.0), (99.0)) AS t(p)),
         tgt AS (SELECT tot.event_type, ps.p,
                        greatest(1, CAST(ceil(ps.p / 100.0 * tot.n) AS BIGINT)) AS target
                 FROM tot CROSS JOIN ps),
         sel AS (SELECT event_type, p, i FROM (
                   SELECT t.event_type, t.p, c.i,
                          row_number() OVER (PARTITION BY t.event_type, t.p
                                             ORDER BY c.i NULLS FIRST) AS rn
                   FROM tgt t JOIN cum c ON c.event_type = t.event_type AND c.cum >= t.target)
                 WHERE rn = 1),
         est AS (SELECT event_type, p,
                        CASE WHEN i IS NULL THEN 0.0
                             ELSE round(2.0 / (101.0/99.0 + 1.0) * pow(101.0/99.0, i), 6) END AS v
                 FROM sel)
         SELECT event_type,
                max(CASE WHEN p = 50 THEN v END) AS p50,
                max(CASE WHEN p = 95 THEN v END) AS p95,
                max(CASE WHEN p = 99 THEN v END) AS p99
         FROM est GROUP BY event_type ORDER BY event_type""",

    // explicit-key leftouter: unmatched types keep null et/mx
    "q177_kql_text_join_explicit" ->
      """WITH dim AS (SELECT event_type AS et, round(max(value), 4) AS mx
                      FROM events WHERE value > 100
                      GROUP BY event_type HAVING count(*) > 3),
         f AS (SELECT e.event_type, d.et, d.mx
               FROM events e LEFT JOIN dim d ON e.event_type = d.et
               WHERE e.event_id % 17 = 0)
         SELECT event_type, et, mx, CAST(count(*) AS BIGINT) AS rows_,
                CAST(count(et) AS BIGINT) AS matched
         FROM f GROUP BY 1, 2, 3 ORDER BY event_type""",

    // exact band intersections; sketch flags pinned in-tolerance
    "q178_kql_text_dcount_intersect" ->
      """WITH b AS (SELECT event_type, user_id,
                           max(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS i0,
                           max(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) AS i1,
                           max(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS i2
                    FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(sum(i0) AS BIGINT) AS e0,
                CAST(sum(i0 * i1) AS BIGINT) AS e01,
                CAST(sum(i0 * i1 * i2) AS BIGINT) AS e012,
                1::BIGINT AS ok0, 1::BIGINT AS ok1, 1::BIGINT AS ok2
         FROM b GROUP BY event_type ORDER BY event_type""",

    // gaps-and-islands: a session opens on the first event or a > 30m
    // gap; session count = sum of opens
    "q179_kql_text_row_window_session" ->
      """WITH f AS (SELECT user_id, ts, event_id,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                    FROM events WHERE user_id % 23 = 0),
         m AS (SELECT user_id,
                      CASE WHEN pts IS NULL
                             OR epoch_us(ts) - epoch_us(pts) > 1800000000 THEN 1
                           ELSE 0 END AS opens
               FROM f)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(opens) AS BIGINT) AS n_sessions
         FROM m GROUP BY user_id ORDER BY user_id""",

    // scalar ring 12 oracle: bin_auto = aligned pmod binning in exact
    // micros (1704067200000000 = 2024-01-01, 21600000000 = 6h); the
    // hash facts reduce to distinct-pair counts and always-true
    // asymmetry/round-trip counts; gettype values are literals
    "q181_kql_text_scalar12" ->
      """WITH f AS (
           SELECT event_id, user_id, event_type, value,
                  epoch_us(ts) - 1704067200000000 AS delta
           FROM events WHERE event_id % 11 = 0),
         g AS (
           SELECT *,
                  make_timestamp(1704067200000000 + delta
                    - (((delta % 21600000000) + 21600000000) % 21600000000)) AS b
           FROM f)
         SELECT b, 'real' AS ty, 'int8' AS tb, 'datetime' AS tt,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT (event_type, user_id)) AS BIGINT) AS dhm,
                CAST(count(DISTINCT (event_type, user_id)) AS BIGINT) AS dhc,
                CAST(count(*) AS BIGINT) AS asym,
                CAST(count(*) AS BIGINT) AS zok,
                round(sum(value), 4) AS vs,
                CAST(-count(*) AS BIGINT) AS mis
         FROM g GROUP BY b ORDER BY b""",

    // special-function oracle: lgamma/gamma are DuckDB libm (Lanczos
    // agrees past 6dp); erf has no DuckDB builtin, so the oracle
    // mirrors the A&S 7.1.26 Horner polynomial TERM FOR TERM — both
    // engines run the same IEEE double ops in the same order
    "q182_kql_text_special_fns" ->
      """WITH f AS (
           SELECT event_id,
                  (event_id % 7 + 1) / 2.0 AS x,
                  (value - 50.0) / 20.0 AS z,
                  (event_id % 7 + 1) / 2.0 - 4.2 AS xn
           FROM events WHERE event_id % 11 = 0),
         e AS (
           SELECT event_id, x, xn, z,
                  1.0 / (1.0 + 0.3275911 * abs(z)) AS t
           FROM f),
         g AS (
           SELECT event_id, x, xn,
                  sign(z) * (1.0 - (((((1.061405429 * t + -1.453152027) * t
                    + 1.421413741) * t + -0.284496736) * t + 0.254829592) * t)
                    * exp(-(z * z))) AS erfv
           FROM e)
         SELECT event_id,
                round(lgamma(x), 6) AS lg, round(gamma(x), 6) AS gm,
                round(lgamma(xn), 6) AS lgn, round(gamma(xn), 6) AS gmn,
                round(erfv, 9) AS ef, round(1.0 - erfv, 9) AS ec
         FROM g ORDER BY event_id""",

    // punycode oracle: the five event_type+'é' encodings precomputed
    // with Python's RFC 3492 punycode codec; ASCII encode = label+'-';
    // round-trips reproduce the input; malformed decode is NULL
    "q183_kql_text_punycode" ->
      """SELECT event_id, event_type,
                CASE event_type
                  WHEN 'click' THEN 'click-fsa' WHEN 'view' THEN 'view-epa'
                  WHEN 'purchase' THEN 'purchase-i1a' WHEN 'signup' THEN 'signup-gva'
                  WHEN 'error' THEN 'error-fsa' END AS p,
                event_type || 'é' AS rt,
                event_type || '-' AS pa,
                'xn--' || (CASE event_type
                  WHEN 'click' THEN 'click-fsa' WHEN 'view' THEN 'view-epa'
                  WHEN 'purchase' THEN 'purchase-i1a' WHEN 'signup' THEN 'signup-gva'
                  WHEN 'error' THEN 'error-fsa' END) || '.example.com' AS dom,
                event_type || 'é.example.com' AS back,
                CAST(NULL AS VARCHAR) AS bad
         FROM events WHERE event_id % 101 = 0 ORDER BY event_id""",

    // externaldata oracle: re-derives the fixture rows from range() —
    // identical affine content, no file dependency
    "q187_kql_text_externaldata" ->
      """WITH f AS (
           SELECT range AS id, 'n' || (range % 7) AS name,
                  round(range * 1.5 - 20, 1) AS val,
                  (range % 3 = 0) AS flag,
                  TIMESTAMP '2024-01-01 00:00:00' + range * INTERVAL 1 HOUR AS ts
           FROM range(0, 100))
         SELECT name, CAST(count(*) AS BIGINT) AS n, round(sum(val), 4) AS sv,
                CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS nf,
                max(ts) AS mx
         FROM f GROUP BY name ORDER BY name""",

    // count-min oracle: exact counts + uniformly-true contract flags
    "q188_kql_text_countmin" ->
      """WITH c AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
                    FROM events GROUP BY 1, 2),
         g AS (SELECT user_id, CAST(count(*) AS BIGINT) AS gcnt
               FROM events GROUP BY 1)
         SELECT c.event_type, c.user_id, c.cnt, g.gcnt, TRUE AS ok, TRUE AS okm
         FROM c JOIN g ON c.user_id = g.user_id
         ORDER BY c.event_type, c.user_id""",

    // ring 13 oracle: same md5-derived ip/guid fixtures; mask = per-
    // group hex→int, AND with the prefix window, back to %04x; code
    // points via a per-char unicode() walk; regex_quote needs the 'g'
    // flag (DuckDB replaces first-only by default)
    "q190_kql_text_scalar13" ->
      """WITH f AS (
           SELECT event_id, event_type, md5(event_type) AS h
           FROM events WHERE event_id % 101 = 0),
         g AS (
           SELECT event_id, event_type, h,
                  substr(h,1,4) || ':' || substr(h,5,4) || ':' || substr(h,9,4) || ':' || substr(h,13,4) || ':' ||
                  substr(h,17,4) || ':' || substr(h,21,4) || ':' || substr(h,25,4) || ':' || substr(h,29,4) AS ip
           FROM f),
         m AS (
           SELECT event_id, event_type, h, ip,
                  list_transform(string_split(ip, ':'), x -> ('0x' || x)::BIGINT) AS gv
           FROM g),
         k AS (
           SELECT event_id, event_type, h, ip,
                  (SELECT string_agg(printf('%04x',
                     gv[i+1] & ((65535 << (16 - greatest(least(64 - i*16, 16), 0))) & 65535)), ':' ORDER BY i)
                   FROM unnest(range(8)) AS t(i)) AS m64,
                  (SELECT string_agg(printf('%04x',
                     gv[i+1] & ((65535 << (16 - greatest(least(35 - i*16, 16), 0))) & 65535)), ':' ORDER BY i)
                   FROM unnest(range(8)) AS t(i)) AS m35,
                  (SELECT string_agg(printf('%04x',
                     gv[i+1] & ((65535 << (16 - greatest(least(0 - i*16, 16), 0))) & 65535)), ':' ORDER BY i)
                   FROM unnest(range(8)) AS t(i)) AS m0
           FROM m)
         SELECT event_id, ip, m64, m35, m0,
                '[' || array_to_string(list_transform(range(length(event_type || 'é')),
                  i -> unicode(substr(event_type || 'é', i + 1, 1))), ',') || ']' AS cps,
                event_type || 'é' AS rt,
                CAST(NULL AS VARCHAR) AS bad,
                substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4) || '-' || substr(h,17,4) || '-' || substr(h,21,12) AS g,
                CAST(NULL AS VARCHAR) AS gbad,
                regexp_replace(event_type || '.*[a]', '([\\^$.|?*+()\[\]{}])', '\\\1', 'g') AS rq
         FROM k ORDER BY event_id""",

    // pearson oracle: the q128 binning convention + the standard
    // product-moment formula over the 12 bins, rounded at 6dp
    "q191_kql_text_series_pearson" ->
      """WITH bins AS (SELECT i FROM unnest(range(0, 12)) AS t(i)),
         keys AS (SELECT DISTINCT event_type FROM events
                  WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
                    AND ts < TIMESTAMP '2024-01-27 00:00:00'),
         agg AS (
           SELECT event_type,
                  (epoch_us(ts) - 1704240000000000) // 172800000000 AS i,
                  count(*) AS c, sum(value) AS s
           FROM events
           WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
             AND ts < TIMESTAMP '2024-01-27 00:00:00'
           GROUP BY 1, 2),
         filled AS (
           SELECT k.event_type, b.i,
                  CAST(coalesce(a.c, 0) AS DOUBLE) AS x,
                  CAST(coalesce(a.s, 0) AS DOUBLE) AS y
           FROM keys k CROSS JOIN bins b
           LEFT JOIN agg a ON a.event_type = k.event_type AND a.i = b.i),
         st AS (
           SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
           FROM filled GROUP BY event_type)
         SELECT event_type,
                CASE WHEN n >= 2 AND (n*sxx - sx*sx) * (n*syy - sy*sy) > 0
                     THEN round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6)
                END AS r
         FROM st ORDER BY event_type""",

    // compression oracle: zlib compress equals the Python zlib golden
    // byte-for-byte; every decompress resolves to the plain payload;
    // malformed inputs are NULL
    "q203_kql_text_compression" ->
      """SELECT event_id,
                CASE event_type
                  WHEN 'click' THEN 'eJxLzslMzlYoSKzMyU9MAQAjHgUR'
                  WHEN 'view' THEN 'eJwry0wtVyhIrMzJT0wBAB8OBMY='
                  WHEN 'purchase' THEN 'eJwrKC1KzkgsTlUoSKzMyU9MAQA3GgZm'
                  WHEN 'signup' THEN 'eJwrzkzPKy1QKEiszMlPTAEAKpMFoQ=='
                  ELSE 'eJxLLSrKL1IoSKzMyU9MAQAkmgU1' END AS zc,
                event_type || ' payload' AS zrt,
                event_type || ' payload' AS grt,
                event_type || ' payload' AS zg,
                event_type || ' payload' AS gg,
                CAST(NULL AS VARCHAR) AS bad,
                CAST(NULL AS VARCHAR) AS bad2
         FROM events WHERE event_id % 101 = 0 ORDER BY event_id""",

    // agg ring 15 oracle: population/conditional forms; take_anyif =
    // MIN over the passing rows (the take_any pinning); the hll gate
    // compares the sketch estimate to the exact conditional distinct
    // (small per-band cardinalities sit in the sketch's exact region)
    "q201_kql_text_agg_ring15" ->
      """SELECT user_id % 5 AS band,
                round(stddev_pop(value), 6) AS sp,
                round(var_pop(value), 6) AS vp,
                round(covar_samp(value, event_id % 100), 6) AS cv,
                round(covar_pop(value, event_id % 100), 6) AS cvp,
                CAST(count(DISTINCT CASE WHEN value > 50 THEN event_type END) AS BIGINT) AS cd,
                min(CASE WHEN value > 90 THEN event_type END) AS ta,
                TRUE AS hll_ok
         FROM events GROUP BY 1 ORDER BY band""",

    // diffpatterns_text oracle: same token dedup + conditional counts;
    // percents from single divisions so the doubles match bit-for-bit
    "q197_kql_text_diffpatterns_text" ->
      """WITH t AS (SELECT (lang = 'en') AS s, text FROM documents),
         tot AS (SELECT sum(CASE WHEN s THEN 1 ELSE 0 END)::DOUBLE AS na,
                        sum(CASE WHEN NOT s THEN 1 ELSE 0 END)::DOUBLE AS nb FROM t),
         tk AS (SELECT s, unnest(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS tok FROM t),
         c AS (SELECT tok, CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT) AS cb
               FROM tk WHERE tok <> '' GROUP BY tok)
         SELECT tok AS token, ca AS count_a, cb AS count_b,
                round(100.0 * ca / na, 4) AS percent_a,
                round(100.0 * cb / nb, 4) AS percent_b,
                round(abs(100.0 * ca / na - 100.0 * cb / nb), 4) AS diff
         FROM c CROSS JOIN tot
         WHERE abs(100.0 * ca / na - 100.0 * cb / nb) >= 5.0
         ORDER BY diff DESC, token""",

    // active_users_count oracle: period membership by period START in
    // (T - lookback, T]; axis zero-filled
    "q196_kql_text_active_users" ->
      """WITH acts AS (
           SELECT DISTINCT user_id AS id, epoch_us(ts) // 86400000000 AS p
           FROM events
           WHERE epoch_us(ts) BETWEEN 1704240000000000 AND 1706313600000000),
         axis AS (SELECT range AS k FROM range(9862, 9875)),
         j AS (SELECT a.id, a.p, x.k FROM acts a CROSS JOIN axis x
               WHERE a.p * 86400000000 <= x.k * 172800000000
                 AND a.p * 86400000000 > x.k * 172800000000 - 604800000000),
         pu AS (SELECT k, id, count(DISTINCT p) AS np FROM j GROUP BY k, id),
         c AS (SELECT k, CAST(count(DISTINCT id) AS BIGINT) AS dcount
               FROM pu WHERE np >= 2 GROUP BY k)
         SELECT make_timestamp(x.k * 172800000000) AS ts,
                coalesce(c.dcount, 0) AS dcount
         FROM axis x LEFT JOIN c ON c.k = x.k ORDER BY ts""",

    // user-agent oracle: hand-verified parse results per fixture
    "q193_kql_text_user_agent" ->
      """SELECT event_id, event_type,
                CASE event_type WHEN 'click' THEN 'Chrome' WHEN 'view' THEN 'Safari'
                  WHEN 'purchase' THEN 'Chrome' WHEN 'signup' THEN 'Edge' ELSE 'Other' END AS bf,
                CASE event_type WHEN 'click' THEN '126' WHEN 'view' THEN '16'
                  WHEN 'purchase' THEN '125' WHEN 'signup' THEN '126' ELSE '' END AS bmaj,
                CASE event_type WHEN 'click' THEN '0' WHEN 'view' THEN '5'
                  WHEN 'purchase' THEN '0' WHEN 'signup' THEN '0' ELSE '' END AS bmin,
                CASE event_type WHEN 'click' THEN 'Windows' WHEN 'view' THEN 'Mac OS X'
                  WHEN 'purchase' THEN 'Android' WHEN 'signup' THEN 'Windows' ELSE 'Other' END AS osf,
                CASE event_type WHEN 'click' THEN '10.0' WHEN 'view' THEN '13.4'
                  WHEN 'purchase' THEN '14' WHEN 'signup' THEN '10.0' ELSE '' END AS osv,
                CASE event_type WHEN 'purchase' THEN 'Phone'
                  WHEN 'error' THEN 'Bot' ELSE 'Other' END AS dev
         FROM events WHERE event_id % 101 = 0 ORDER BY event_id""",

    // rows_near oracle: keep iff a condition row lands in ROWS BETWEEN
    // RowsAfter PRECEDING AND NumRows FOLLOWING of this row (a
    // preceding condition row within RowsAfter means this row is within
    // RowsAfter after it, and symmetrically for following)
    "q180_kql_text_rows_near" ->
      """SELECT event_id, user_id, event_type FROM (
           SELECT event_id, user_id, event_type,
                  max(event_type = 'error') OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS keep
           FROM events)
         WHERE keep ORDER BY event_id""",

    // keyed running scan = per-key running window sum in the scan order
    "q125_kql_text_scan_keyed" ->
      """SELECT event_id, user_id,
                round(0.0 + sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS total
         FROM events
         WHERE event_type = 'purchase' AND value > 0
         ORDER BY event_id"""
  )
}
