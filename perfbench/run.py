#!/usr/bin/env python3
"""graft's benchmark launcher.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <analytics_mix|manifest_etl|corpus_lifecycle>
        --seed <n> --seconds <s> --trace <0|1>
        [--sf <x>] [--setups <n>] [--inject hash|undeleted] [--fingerprint]

Builds the benchmark (graft from the checkout's own sources plus the
benchmark code under perfbench/src) with sbt when the sources changed since the
last build, runs one workload in one JVM, checks its outputs and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. The line before it is the run record (`# record {...}`): seed,
nproc, k, loadavg at start and end, JVM/Spark versions, the source digest
and input sizes, plus every named metric of the workload. The full record
of the last run of each workload is kept in perfbench/.work/last_<workload>.json.
Exits non-zero when an output check fails or the program cannot be built.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")
DEADLINE_S = 175  # whole run, build excluded

WORKLOADS = ("analytics_mix", "manifest_etl", "corpus_lifecycle")

# End-to-end metrics reported with --trace 0 (BENCHMARK.json end_to_end).
END_TO_END = ("setup_s", "peak_heap_mb", "cpu_s", "op_cpu_ms")

# Per-layer metrics reported with --trace 1 (BENCHMARK.json per_layer): the
# ones both gated workloads exercise, so none reads a constant 0. The run
# record carries every per-layer metric (perfbench/NOTES.md).
PER_LAYER = ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
             "spark.task_cpu_s", "spark.shuffle_read_mb",
             "spark.shuffle_write_mb", "spark.input_mb", "spark.output_mb",
             "spark.gap_s", "core.session.build_s", "core.model.load_ms",
             "engine.self_s", "trace.overhead_s")

# Spark 4 on JDK 17 needs these outside spark-submit (as in ../build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: graft's sources and build definition,
    and the benchmark's own."""
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                files.append(p)
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(src, "**", "*.*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt unless the stamped digest matches; returns
    (classpath, source digest)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft's sources (src/main/scala/graft) are not in this checkout")
        sys.exit(2)
    d = digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == d:
                with open(cp_file) as fh:
                    return fh.read().strip(), d
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    log(f"building (source digest {d})")
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(d)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, d


def host_counters():
    """CPU jiffies (total, steal) from /proc/stat and the CPU and I/O
    pressure stall totals (us) from /proc/pressure, where the kernel has
    them."""
    out = {"t": time.time()}
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        out["jiffies"], out["steal"] = sum(f[:8]), f[7]
    except (OSError, ValueError, IndexError):
        pass
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                out[res] = int(fh.readline().rsplit("total=", 1)[1])
        except (OSError, ValueError, IndexError):
            pass
    return out


def host_share(a, b):
    """What the host took from the run: the steal share of all CPU time,
    and the shares of wall time some task stalled waiting for a CPU or
    for I/O."""
    out = {}
    if "jiffies" in a and "jiffies" in b and b["jiffies"] > a["jiffies"]:
        out["steal_pct"] = 100.0 * (b["steal"] - a["steal"]) / (b["jiffies"] - a["jiffies"])
    for res in ("cpu", "io"):
        if res in a and res in b:
            out[f"{res}_stall_pct"] = (b[res] - a[res]) / 1e4 / max(1e-9, b["t"] - a["t"])
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------------- oracle

def oracle_checks(work, inject):
    """Hash every analytics_mix result against DuckDB running the query's
    oracleSql over the same generated tables. Returns [(check, ok, detail)]."""
    import duckdb
    import pandas as pd
    # the repo's canonical DuckDB-compare hash
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from local_verify import canon, table_hash
    data, check_dir = os.path.join(work, "data"), os.path.join(work, "check")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data, t)}/*.parquet'")
    out = []
    for i, name in enumerate(sorted(oracles)):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            out.append((f"oracle {name}", False, "no result written"))
            continue
        try:
            s = canon(pd.concat([pd.read_parquet(f) for f in files],
                                ignore_index=True))
            d = canon(con.execute(oracles[name]).df())
        except Exception as e:  # a failing oracle is a failed check
            out.append((f"oracle {name}", False, str(e)[:300]))
            continue
        expected = table_hash(d)
        if "hash" in inject and i == 0:
            expected = "0" * 16  # self-test: a corrupted expected hash
        got = table_hash(s) if list(s.columns) == list(d.columns) else "columns"
        ok = got == expected and len(s) == len(d)
        out.append((f"oracle {name}", ok,
                    f"rows {len(s)} vs {len(d)}, hash {got} vs {expected}"))
    return out


def input_fingerprint(data):
    """A digest of the generated tables' contents (not their file bytes)."""
    import duckdb
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            row = con.execute(f"SELECT count(*), sum(hash(x)) FROM "
                              f"'{os.path.join(data, t)}/*.parquet' x").fetchone()
            h.update(f"{t}:{row}".encode())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float)
    ap.add_argument("--setups", type=int, default=3)
    ap.add_argument("--inject", default="")
    ap.add_argument("--fingerprint", action="store_true",
                    help="add a content digest of the generated inputs to the record")
    a = ap.parse_args()

    cp, src_digest = build()
    t_start = time.time()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "record.json")
    # a fixed heap (Xms = Xmx) never resizes, so GC timing does not depend
    # on heap growth
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
              f"-Dderby.system.home={work}/tmp",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              # the traced run reports no set-up time: one set-up keeps it
              # within the time limit of a run
              "--work", work, "--out", out,
              "--setups", str(1 if a.trace else a.setups)]
           + (["--sf", str(a.sf)] if a.sf else [])
           + (["--inject", a.inject] if a.inject else []))
    host0 = host_counters()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=DEADLINE_S - 5 - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        log(f"benchmark JVM failed (exit {rc})")
        sys.exit(3)
    with open(out) as fh:
        rec = json.load(fh)

    checks = [(c["check"], c["ok"], c["detail"]) for c in rec["checks"]]
    if a.workload == "analytics_mix":
        extra = oracle_checks(work, a.inject)
        checks += extra
        rec["attempted"] += len(extra)
        rec["failed"] += sum(1 for _, ok, _ in extra if not ok)
    rec["checks"] = [{"check": n, "ok": ok, "detail": d} for n, ok, d in checks]
    rec["named"]["ops_failed_ratio"] = {
        "value": rec["failed"] / max(1, rec["attempted"]), "unit": "ratio",
        "note": f"{rec['failed']} of {rec['attempted']}"}
    if a.fingerprint:
        rec["input_fingerprint"] = input_fingerprint(os.path.join(work, "data"))
    rec["host"] = host_share(host0, host_counters())
    rec["git_commit"] = git_commit()
    rec["source_digest"] = src_digest
    rec["run_s"] = time.time() - t_start

    if a.trace:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.copy(spans, os.path.join(WORK_ROOT, f"spans_{a.workload}.jsonl"))
        metrics = {k: rec["per_layer"][k] for k in PER_LAYER}
    else:
        metrics = {k: rec["gated"][k] for k in END_TO_END}
    with open(os.path.join(WORK_ROOT, f"last_{a.workload}.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    for n, ok, d in checks:
        if not ok:
            log(f"check failed: {n}: {d}")
    summary = {k: rec[k] for k in (
        "workload", "seed", "nproc", "k", "loadavg_start", "loadavg_end",
        "jvm", "spark", "git_commit", "source_digest", "host", "inputs", "named",
        "tail_percentile", "tail_beyond", "rounds") if k in rec}
    if a.trace:
        summary["per_layer"] = {k: v["value"] for k, v in rec["per_layer"].items()}
    if "input_fingerprint" in rec:
        summary["input_fingerprint"] = rec["input_fingerprint"]
    print("# record " + json.dumps(summary))
    correct = rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
