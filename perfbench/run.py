#!/usr/bin/env python3
"""Benchmark for the Kafka -> Kusto sink engine and its query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (cached under `.bench_build/` and keyed by a
digest of the sources); later runs start the harness JVM directly.

Workloads (see BENCHMARK.json for why each exists):
  sink-stream    open loop at a fixed rate through KustoSparkPipeline.start,
                 with an in-flight KqlTransform and managed streaming ingest
  query-suite    closed loop, one client, over a fixed set of registered
                 queries on generated sf0.1 tables, each written to `noop`

Every workload reports the same end-to-end metrics, each measured on that
workload's unit of work:
  setup_s           median of three set-ups inside the run (stream: from
                    start() to the end of its first, empty micro-batch;
                    suite: open tables, run the warm-up queries)
  throughput_per_s  records ingested per second of batch time (stream: its
                    processing capacity at rate R); queries completed per
                    second of query time (suite)
  latency_p50_ms    per staged file, from its last record's scheduled
                    creation to the end of its ingest call (stream); per
                    query, the fastest of three back-to-back runs (suite)
  latency_tail_ms   stream: the highest order statistic with at least ten
                    samples beyond it (about p98 at these sample counts);
                    suite: the p95 of those per-query times

The last line of standard output is the result object. With --trace 1 the
harness runs the measured pass twice, untraced then traced, and reports the
per-layer metrics and the tracing overhead (traced minus untraced) and writes
its spans under `.bench_build/out/`; every run writes its per-batch or
per-query rows there (a traced run, those of the traced pass). A traced
sink-stream run also runs the backfill probe (processBatch over a staged
JSON/CSV/Avro/wildcard table) for the encode, scan and processBatch-rate
figures, and again in a `local[1]` JVM for `pipeline.scaling_ratio`.
A failed correctness check prints the result with "correct": false and exits 1.
"""
import argparse
import hashlib
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HEAP = "3g"
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def note(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads, so an edited tree rebuilds."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            die(f"{need.relative_to(ROOT)} is missing: run from the root of a checkout")
    digest = source_digest()
    stamp = BUILD / "classpath.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("digest") == digest:
            return cached["classpath"]
    BUILD.mkdir(parents=True, exist_ok=True)
    note("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    note(f"built in {time.time() - t0:.0f}s")
    return classpath


def tables():
    """The query-suite tables, generated once per checkout and generator."""
    gen = HERE / "gen_tables.py"
    out = BUILD / "tables" / f"sf0.1-{hashlib.sha256(gen.read_bytes()).hexdigest()[:12]}"
    if not out.exists():
        out.parent.mkdir(parents=True, exist_ok=True)
        subprocess.run([sys.executable, str(gen), str(out)], check=True, timeout=120)
    return out


def run_jvm(classpath, args, deadline):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={BUILD / 'warehouse'}",
           "-cp", classpath, "perfbench.Main", *args]
    timeout = max(10.0, deadline - time.time())
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"harness did not finish within {timeout:.0f}s")
    result = None
    for ln in proc.stdout.splitlines():
        if ln.startswith("PERFBENCH_RESULT "):
            result = json.loads(ln[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(proc.stderr[-6000:])
        die(f"harness exited with code {proc.returncode}")
    return result


def main():
    if not (ROOT / "BENCHMARK.json").exists():
        die("BENCHMARK.json is missing: run from the root of a checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")

    classpath = build()
    deadline = time.time() + JVM_TIMEOUT_S
    out = BUILD / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", str(out)]
    if a.workload == "query-suite":
        args += ["--tables", str(tables()), "--queries", str(HERE / "queries.json")]
    res = run_jvm(classpath, args, deadline)

    layers = res["layers"]
    if a.trace and a.workload == "sink-stream":
        # the backfill probe again on one core, same input: how the sink scales
        base = run_jvm(classpath, [
            "--workload", "sink-backfill", "--seed", str(a.seed), "--seconds", "0",
            "--master", "local[1]", "--baseline",
            "--out", str(out) + "-local1"], deadline)
        one = base["e2e"]["throughput_per_s"]
        layers["pipeline.scaling_ratio"] = layers["pipeline.backfill_records_per_s"] / one if one else 0.0
        res["detail"].append({"name": "sink_records_per_s_local1", "value": one, "unit": "1/s"})
        res["correct"] = res["correct"] and base["correct"]
        res["checks"] += base["checks"]

    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for d in res["detail"]:
        print(f"{res['workload']} {d['name']} = {d['value']} {d['unit']}")
    for name, unit in e2e.items():
        print(f"{res['workload']} {name} = {res['e2e'][name]} {unit}")
    for c in res["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['info']}")
    if a.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in e2e.items()}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
