#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny seed.

    python3 perfbench/selftest.py        (from the repository root)

1. The generator is deterministic per seed: two generations of every
   workload's inputs are byte-identical, and another seed differs.
2. The generator's ground truth matches a real run of the engine: a
   ``dashboard`` run on tiny inputs passes its checks (batch-loaded rows,
   observed counter and per-source counts, exactly-once distinct urls
   after the upload drain, rows already loaded, and the checked requests
   against DuckDB).

Exits non-zero on the first failure.
"""
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "dashboard": {"seed_rows": 300, "upload_files": 2, "upload_file_rows": 80,
                  "dash_requests": 40, "dash_rate": 2.0, "dash_threads": 2,
                  "dash_warmup": 4, "doc_sf": 0.001},
    "registry_mix": {"registry_sf": 0.001, "warm_passes": 1, "timed_passes": 1},
}


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def main():
    scratch = os.path.join(os.getcwd(), ".bench_build", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    for w, params in TINY.items():
        a, b, c = (os.path.join(scratch, f"{w}-{k}") for k in "abc")
        gen.generate(a, w, 7, params)
        gen.generate(b, w, 7, params)
        gen.generate(c, w, 8, params)
        if digest(a) != digest(b):
            raise SystemExit(f"selftest: {w} inputs differ between two generations of seed 7")
        if digest(a) == digest(c):
            raise SystemExit(f"selftest: {w} inputs identical for seeds 7 and 8")
        print(f"selftest: {w} generator deterministic", flush=True)
    shutil.rmtree(scratch, ignore_errors=True)
    res = run.run("dashboard", seed=7, seconds=2, trace=0, params=TINY["dashboard"])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"selftest: dashboard run disagrees with the generator's truth: {res}")
    print(f"selftest: dashboard engine run matches the generator's truth "
          f"({res['attempted']} requests)", flush=True)
    print("selftest: OK")


if __name__ == "__main__":
    main()
