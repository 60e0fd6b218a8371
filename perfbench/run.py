#!/usr/bin/env python3
"""Benchmark of the Spark engine's user-facing dataflows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (into ``perfbench/target``, ``target`` and
``.bench_build``); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, runs one
workload in a fresh JVM (Spark ``local[nproc]``), checks the outputs
against the generator's truth or a DuckDB oracle, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer metrics. Every run also leaves its full record (contamination
labels, checks, raw latencies) under ``.bench_build/runs``.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Sizes and rates of each workload. Every run of a workload uses the same
# values; only the seed changes the data.
PARAMS = {
    "dashboard": {"seed_rows": 3000, "upload_files": 2, "upload_file_rows": 300,
                  "dash_requests": 400, "dash_rate": 2.0, "dash_threads": 4,
                  "dash_warmup": 24, "doc_sf": 0.001},
    "registry_mix": {"registry_sf": 0.005, "warm_passes": 2, "timed_passes": 3},
}
# The dashboard's latency limit: 95th percentile of request latency at
# the offered rate (also in BENCHMARK.json). A run that breaks it is
# flagged in its record and on stderr.
DASH_P95_LIMIT_MS = 1500.0
# A fixed heap and young generation: the resident high-water mark then
# follows what the workload keeps, not the collector's resizing decisions.
JVM_HEAP = "3g"
YOUNG_GEN = "512m"
RUN_LIMIT_S = 150
STEAL_LIMIT_PCT = 5.0

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    h = hashlib.sha256()
    files = (glob.glob(f"{root}/src/main/**/*.scala", recursive=True) +
             glob.glob(f"{HERE}/src/main/**/*.scala", recursive=True) +
             [f"{root}/build.sbt", f"{HERE}/build.sbt",
              f"{HERE}/project/build.properties"])
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compiles engine + harness with sbt once per source state and caches
    the runtime classpath."""
    digest = sources_digest(root)
    stamp, cp_file = f"{out}/build.stamp", f"{out}/classpath.txt"
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1]


# ───────────────────────── checks ─────────────────────────

def check_silver(res, truth):
    """The batch reload and the upload drain against the generator's truth:
    row counts, per-source counts, exactly-once distinct urls and rows
    already loaded."""
    c, bad = res["checks"], []
    if c["seed_rows"] != truth["silver_rows"] or c["seed_rows_observed"] != truth["silver_rows"]:
        bad.append(f"batch-loaded silver has {c['seed_rows']} rows (observed counter "
                   f"{c['seed_rows_observed']}), expected {truth['silver_rows']}")
    if c["seed_per_source"] != truth["silver_per_source"]:
        bad.append("batch-loaded per-source counts differ from the generator")
    d = c["drain"]
    if d["rows"] != truth["final_distinct_urls"] or d["distinct_urls"] != d["rows"]:
        bad.append(f"drain not exactly-once: {d} expected {truth['final_distinct_urls']} "
                   "distinct urls")
    if c["rows_already_loaded"] != truth["rows_already_loaded"]:
        bad.append(f"rows_already_loaded={c['rows_already_loaded']} expected "
                   f"{truth['rows_already_loaded']}")
    return bad


def check_dashboard(res):
    """Recomputes the checked requests with DuckDB over the silver parquet,
    independently of the Dashboard module."""
    import duckdb
    c, bad, wrong = res["checks"], [], 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW silver AS SELECT * FROM '{c['silver']}/*.parquet'")
    srcs = [r[0] for r in con.execute(
        "SELECT DISTINCT source FROM silver WHERE source IS NOT NULL ORDER BY 1").fetchall()]
    cats = [r[0] for r in con.execute(
        "SELECT DISTINCT category FROM silver WHERE category IS NOT NULL ORDER BY 1").fetchall()]
    if srcs != c["sources"] or cats != c["categories"] or not c["domains_stable"]:
        bad.append("dropdown domains differ from the oracle")
    for r in c["requests"]:
        where, args = ["TRUE"], []
        if r["source"] is not None:
            where.append("source = ?")
            args.append(r["source"])
        if r["category"] is not None:
            where.append("category = ?")
            args.append(r["category"])
        terms = gen.query_terms(r["search"])
        for t in terms:
            where.append("list_contains(search_tokens, ?)")
            args.append(t)
        w = " AND ".join(where)
        total = con.execute(f"SELECT count(*) FROM silver WHERE {w}", args).fetchone()[0]
        if terms:
            score = " + ".join("CAST(len(list_filter(search_tokens, x -> x = ?)) AS DOUBLE)"
                               for _ in terms)
            order = f"{score} DESC, event_date ASC NULLS FIRST, name ASC NULLS FIRST"
            oargs = list(terms)
        else:
            order = "event_date ASC NULLS FIRST, name ASC NULLS FIRST, url ASC NULLS FIRST"
            oargs = []
        urls = [x[0] for x in con.execute(
            f"SELECT url FROM silver WHERE {w} ORDER BY {order} LIMIT 25 OFFSET ?",
            args + oargs + [(max(r["page"], 1) - 1) * 25]).fetchall()]
        if total != r["total"] or urls != r["urls"]:
            wrong += 1
            if len(bad) < 3:
                bad.append(f"request {r['idx']} ({r['search']!r}, page {r['page']}): "
                           f"total {r['total']} vs {total}, page match {urls == r['urls']}")
    return bad, wrong


def _normalized(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        if df[col].dtype == object and len(df) and hasattr(df[col].iloc[0], "__len__") \
                and not isinstance(df[col].iloc[0], str):
            df[col] = df[col].apply(lambda v: tuple(v) if v is not None else None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_registry(res):
    """Every query's result against DuckDB on its `SparkEntry.oracleSql`
    over the same tables."""
    import duckdb
    import pandas as pd
    c, bad, wrong = res["checks"], [], []
    con = duckdb.connect()
    for p in glob.glob(f"{c['tables']}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    for q in sorted(os.listdir(c["out_dir"])):
        got = _normalized(duckdb.sql(f"SELECT * FROM '{c['out_dir']}/{q}/*.parquet'").df())
        sql = c["oracle_sql"].get(q)
        if sql is None:
            wrong.append(q)
            bad.append(f"{q}: has no DuckDB oracle")
            continue
        exp = _normalized(con.sql(sql).df())
        ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
        if ok:
            try:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
            except AssertionError:
                ok = False
        if not ok:
            wrong.append(q)
            bad.append(f"{q}: differs from its DuckDB oracle ({len(got)} vs {len(exp)} rows)")
    return bad, wrong


# ───────────────────────── main ─────────────────────────

def not_run(workload, metric):
    """Per-layer metrics of layers the workload never calls: they read 0.
    Every other metric must be measured; a missing one fails the run."""
    if metric.startswith(("jvm.", "host.", "trace.")):
        return False
    return metric.startswith("registry.") != (workload == "registry_mix")


def run(workload, seed, seconds, trace, params=None):
    """One benchmark run; returns the result line as a dict."""
    params = params or PARAMS[workload]
    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt") and os.path.isdir(f"{root}/src/main/scala/graft")):
        raise SystemExit("perfbench: run from the repository root (engine sources not found)")
    with open(f"{root}/BENCHMARK.json") as fh:
        spec = json.load(fh)
    out = f"{root}/.bench_build"
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    started = time.time()

    load_before = os.getloadavg()[0]
    work = f"{out}/work/{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = f"{work}/inputs"
    t0 = time.perf_counter()
    truth = gen.generate(inputs, workload, seed, params)
    gen_s = time.perf_counter() - t0

    result_file = f"{work}/result.json"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{YOUNG_GEN}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={work}/spark-local",
            f"-Djava.io.tmpdir={work}", "-Dlog4j2.level=ERROR",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--inputs", inputs, "--work", f"{work}/run",
            "--out", result_file] +
           [x for k, v in params.items() for x in ("--param", f"{k}={v}")])
    with open(f"{work}/jvm.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(result_file):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {workload} run failed (exit {rc})")
    with open(result_file) as fh:
        res = json.load(fh)

    samples = res["samples_ms"]
    attempted = max(1, res["attempted"])
    failed = res["failed"]
    flags = []
    if workload == "dashboard":
        bad = check_silver(res, truth)
        bad2, wrong = check_dashboard(res)
        bad += bad2
        # a wrong silver makes every request over it wrong
        failed += attempted if bad else wrong
        p95 = sorted(samples)[max(0, math.ceil(0.95 * len(samples)) - 1)] if samples else float("nan")
        if not p95 <= DASH_P95_LIMIT_MS:
            flags.append(f"latency limit broken: p95 {p95:.0f} ms > {DASH_P95_LIMIT_MS:.0f} ms")
    else:
        bad, wrong = check_registry(res)
        # every pass runs each query once: a wrong query fails in each pass
        failed += len(wrong) * res["checks"]["passes"]
    failed = min(failed, attempted)
    if trace and res["layers"]["trace.max_cpu_share"] > 1.0:
        bad.append(f"a span was charged {res['layers']['trace.max_cpu_share']:.2f} x its "
                   "wall time x cores of task CPU: job-tag attribution bleeds")
    for b in bad:
        log(f"CHECK FAILED: {b}")

    labels = res["labels"]
    if labels["host.steal_pct"] > STEAL_LIMIT_PCT or load_before > 2 * res["cores"]:
        flags.append(f"contaminated: steal {labels['host.steal_pct']:.2f}%, "
                     f"load1 before start {load_before:.2f}")
    for f in flags:
        log(f"FLAGGED run: {f}")
    e2e = {
        "setup_s": gen_s + res["session_s"] + res["prep_s"],
        "latency_p50_ms": res["p50_ms"],
        "latency_geomean_ms": res["geomean_ms"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res["layers"])
    layers["host.load1"] = load_before
    layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
    runs = f"{out}/runs"
    os.makedirs(runs, exist_ok=True)
    record = {"workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
              "params": params, "truth": truth, "labels": labels, "load1_before": load_before,
              "flags": flags, "checks_failed": bad, "end_to_end": e2e,
              "layers": layers, "samples_ms": samples, "spans": res.get("spans", []),
              "gen_s": gen_s, "session_s": res["session_s"], "prep_s": res["prep_s"],
              "warmup_s": res["checks"].get("warmup_s")}
    untraced = sorted(glob.glob(f"{runs}/{workload}-seed{seed}-trace0-*.json"))
    if trace and untraced:
        # tracing overhead: this traced run minus the latest untraced run
        # of the same seed
        with open(untraced[-1]) as fh:
            base = json.load(fh)["end_to_end"]
        record["trace_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
    with open(f"{runs}/{workload}-seed{seed}-trace{trace}-{int(time.time() * 1000)}.json",
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    source = layers if trace else e2e
    section = spec["per_layer"] if trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in section:
        value = 0.0 if trace and not_run(workload, m["name"]) else source.get(m["name"])
        if not (isinstance(value, (int, float)) and math.isfinite(value)):
            missing.append(m["name"])
            value = None
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if missing:
        log(f"CHECK FAILED: metrics not measured: {', '.join(missing)}")
    return {"correct": not bad and not missing, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
