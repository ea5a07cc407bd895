#!/usr/bin/env python3
"""Build `queries.json` for the query-suite workload.

Input: the `calibrate.json` the harness writes when run with
`--workload calibrate` (every registered query run once on the generated
tables: seconds, engine row count, DuckDB oracle SQL), and the tables dir.
After one `run.py` run has built the harness:

    java <the --add-opens flags in run.py> -cp "$(python3 -c 'import json; \
      print(json.load(open(".bench_build/classpath.json"))["classpath"])')" \
      perfbench.Main --workload calibrate --tables .bench_build/tables/sf0.1-<digest> \
      --out .bench_build/calibrate

For every query the expected row count is the DuckDB oracle's count on the
same tables when the query has an oracle, and the engine's count otherwise.
A query whose engine count differs from its oracle count is reported and
the script exits non-zero. The suite's fixed query list is one query per
time stratum (the stratum's median), plus the named long-running queries
that set the tail.

Usage: calibrate.py <calibrate.json> <tables_dir> <queries.json>
"""
import argparse
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# a long ANN query that sets the suite's tail; it builds through eager
# local kernels (two dozen Spark jobs before the plan runs)
TAIL = ["q65_ivf_converged"]
# cheap relational and KQL queries that warm the JVM during set-up
WARMUP = ["q01_count", "q40_kql_text_summarize"]
# queries in the suite, TAIL included
COUNT = 8


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("calibrate")
    ap.add_argument("tables")
    ap.add_argument("out")
    a = ap.parse_args()
    cal = json.load(open(a.calibrate))
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{a.tables}/{t}.parquet'")

    expected, source, bad = {}, {}, []
    for q, r in sorted(cal.items()):
        if "error" in r:
            bad.append(f"{q}: engine error {r['error']}")
            continue
        n = r["rows"]
        if "oracle_sql" in r:
            try:
                o = con.sql(f"SELECT count(*) FROM ({r['oracle_sql']})").fetchone()[0]
            except Exception as e:  # oracle failures are reported, not hidden
                bad.append(f"{q}: oracle error {e}")
                continue
            if o != n:
                bad.append(f"{q}: engine rows {n} != oracle rows {o}")
                continue
            expected[q], source[q] = o, "oracle"
        else:
            expected[q], source[q] = n, "engine"

    ok = {q: cal[q]["seconds"] for q in expected if q not in WARMUP}
    ranked = sorted(ok, key=ok.get)
    k = COUNT - len(TAIL)
    strata = [ranked[i * len(ranked) // k:(i + 1) * len(ranked) // k] for i in range(k)]
    chosen = [g[len(g) // 2] for g in strata if g]
    chosen += [q for q in TAIL if q in ok and q not in chosen]
    json.dump({
        "queries": sorted(chosen),
        "warmup": WARMUP,
        "expected_rows": expected,
        "expected_source": source,
        "calibration_seconds": {q: round(cal[q]["seconds"], 3) for q in sorted(expected)},
    }, open(a.out, "w"), indent=1, sort_keys=True)
    print(f"{len(expected)} queries with expected counts "
          f"({sum(v == 'oracle' for v in source.values())} from the oracle); "
          f"suite of {len(chosen)}: {sum(ok[q] for q in chosen):.1f}s")
    for b in bad:
        print("MISMATCH", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
