#!/usr/bin/env python3
"""The benchmark's own self-test, at sf0.001 (a few minutes).

Usage (from the root of a checkout): python3 perfbench/selftest.py

Asserts that
  * every workload prints the end-to-end metrics of BENCHMARK.json, each
    with its unit, as the last line, and the run record names every
    published end-to-end metric of its workload with a unit;
  * the traced run prints every per-layer metric of BENCHMARK.json;
  * a corrupted expected hash (analytics_mix) and an undeleted id
    (corpus_lifecycle) are each caught: the command exits non-zero and
    reports a failed operation;
  * changing the seed changes the generated inputs while the checks still
    pass.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"

# The workload-specific end-to-end metrics each run record must name
# (the COMMON ones are in every record).
NAMED = {
    "analytics_mix": ["query_p50_ms", "query_tail_ms"],
    "manifest_etl": ["period_p50_ms", "period_tail_ms", "etl_rows_per_s"],
    "corpus_lifecycle": ["ingest_batch_p50_ms", "ingest_batch_tail_ms",
                         "ingest_docs_per_s", "search_p50_ms", "delete_s"],
}
COMMON = ["setup_s", "setup_wall_s", "wall_s", "cpu_s", "op_cpu_ms",
          "ops_failed_ratio", "peak_rss_mb", "peak_heap_mb"]


def run(workload, seed, trace=0, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "60", "--trace",
           str(trace), "--sf", SF, "--setups", "1", "--fingerprint"] + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    record = None
    for line in lines:
        if line.startswith("# record "):
            record = json.loads(line[len("# record "):])
    return p.returncode, result, record, p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}

    fingerprints = {}
    for w in NAMED:
        rc, res, rec, err = run(w, seed=11)
        expect(rc == 0 and res and res["correct"] and res["failed"] == 0,
               f"{w}: clean run passes its checks (exit {rc})")
        expect(set(res["metrics"]) == set(e2e) and all(
            res["metrics"][k]["unit"] == u for k, u in e2e.items()),
            f"{w}: every end-to-end metric printed with its unit")
        for name in COMMON + NAMED[w]:
            m = rec["named"].get(name, {})
            expect("value" in m and m.get("unit"),
                   f"{w}: record names {name} with unit {m.get('unit')}")
        fingerprints[w] = rec["input_fingerprint"]

    rc, res, rec, _ = run("manifest_etl", seed=11, trace=1)
    expect(rc == 0 and set(res["metrics"]) == set(layers) and all(
        res["metrics"][k]["unit"] == u for k, u in layers.items()),
        "traced run prints every per-layer metric with its unit")

    rc, res, _, _ = run("analytics_mix", seed=11, extra=["--inject", "hash"])
    expect(rc != 0 and res and not res["correct"] and res["failed"] >= 1,
           "a corrupted expected hash is caught")
    rc, res, _, _ = run("corpus_lifecycle", seed=11,
                        extra=["--inject", "undeleted"])
    expect(rc != 0 and res and not res["correct"] and res["failed"] >= 1,
           "an undeleted id is caught")

    rc, res, rec, _ = run("analytics_mix", seed=12)
    expect(rc == 0 and res["correct"], "another seed still passes its checks")
    expect(rec["input_fingerprint"] != fingerprints["analytics_mix"],
           "another seed generates other inputs")
    print("self-test passed")


if __name__ == "__main__":
    main()
