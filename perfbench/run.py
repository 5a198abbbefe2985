#!/usr/bin/env python3
"""graft benchmark: one command for the curation and ingest workloads.

Usage (from the checkout root):
  python3 perfbench/run.py --workload curation|ingest --seed N \
      --seconds S --trace 0|1

Builds the engine and harness if needed, generates the workload's inputs
from the seed, runs the harness in one JVM, checks every output against
its reference, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero after that line when an output is wrong or an operation
failed.  See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import refs  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # closed loop, one client, kernel-bound curation queries over the
    # 10x near-duplicate expansion of 60 base documents
    "curation": {"sf": 0.01, "docs": 60, "copies": 10},
    # open loop: segments every period_ms, lookups every read_period_ms;
    # before the timed --seconds, warm_commits one-segment commits in
    # closed loop, warm_reads lookups and warm_s of the schedule
    "ingest": {"per_segment": 100, "period_ms": 100, "read_period_ms": 2000,
               "pool": 50_000, "warm_commits": 10, "warm_reads": 5, "warm_s": 3,
               "drain_files": 60, "drains": 2},
}
# Spark master and shuffle partitions: half the cores, at most 2.  The
# other half keeps a stage's tasks from queueing behind the JVM's compiler
# and collector threads and other load on the host (see NOTES.md).
CORES = max(1, min(4, os.cpu_count() or 1) // 2)
# A fixed heap, parallel young collections and no full collection on
# request: the session's ContextCleaner asks for a full GC every minute
# (spark.cleaner.periodicGC.interval), and that 0.3 s pause landed in
# whichever timed window was running at the time.  A large initial
# metaspace saves the five full collections of class loading, and
# -XX:-UsePerfData keeps the JVM from writing to the system temp directory.
JVM_FLAGS = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:+DisableExplicitGC",
             "-XX:MetaspaceSize=256m", "-XX:-UsePerfData", "-Xss8m"]
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cached_refs(kind, seed, seconds, compute):
    """References are computed once per seed, workload configuration,
    generator and oracle SQL, and kept: the stored ones in perfbench/refs/,
    new ones in .bench_build/refs/."""
    h = hashlib.sha1(json.dumps([WORKLOADS[kind], seconds if kind == "ingest" else None],
                                sort_keys=True).encode())
    for f in ("gen.py", "oracle_sql.json"):
        with open(os.path.join(HERE, f), "rb") as src:
            h.update(src.read())
    tag = h.hexdigest()[:8]
    name = f"{kind}-seed{seed}-{tag}.json"
    for d in (os.path.join(HERE, "refs"), os.path.join(ROOT, ".bench_build", "refs")):
        p = os.path.join(d, name)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
    value = compute()
    d = os.path.join(ROOT, ".bench_build", "refs")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(value, f, indent=1, sort_keys=True)
    return value


def prepare(workload, seed, seconds, data):
    cfg = WORKLOADS[workload]
    if workload == "curation":
        gen.write_tables(data, seed, cfg["sf"], cfg.get("docs"), cfg["copies"])
        return
    n_seg = int(round((cfg["warm_s"] + seconds) * 1000 / cfg["period_ms"]))
    segs = gen.page_log(seed, n_seg, cfg["per_segment"], cfg["pool"])
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(data, "segments.txt"), "w") as f:
        for seg in segs:
            for mid, ts, entry in seg:
                f.write(gen.page_log_line(mid, ts, entry) + "\n")
    with open(os.path.join(data, "ingest.properties"), "w") as f:
        for k in ("per_segment", "period_ms", "read_period_ms", "drain_files", "drains",
                  "warm_commits", "warm_reads", "warm_s"):
            f.write(f"{k}={cfg[k]}\n")
    return segs


def run_harness(classpath, workload, data, work, result, seconds, seed, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_STAGE_DIR=os.path.join(work, "stage"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JAVA_OPENS +
           ["-cp", os.pathsep.join(classpath), "graft.perfbench.Main", workload, data,
            work, result, str(seconds), str(seed), str(trace), str(CORES)])
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, timeout=170)
    return r.returncode == 0 and os.path.exists(result)


# ------------------------------------------------------------------ metrics

def latency(ms):
    """Median and the highest percentile with enough samples beyond it."""
    p = stats.tail_percentile(len(ms)) or 50
    log(f"{len(ms)} latency samples: tail is p{p}")
    return {"lat_p50_ms": (stats.percentile(ms, 50), "ms"),
            "lat_tail_ms": (stats.percentile(ms, p), "ms")}


def query_metrics(res):
    samples = [s for p in res["passes"] if not p["traced"] for s in p["queries"]]
    ok = [s["ms"] for s in samples if s["ok"]]
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (stats.median(walls), "s"),
        **latency(ok),
    }, len(samples), len(samples) - len(ok)


def ingest_metrics(res):
    segs = res["segments"]
    done = [s for s in segs if s["commit"] >= 0]
    timed = [s for s in done if s["timed"]]
    lat, _ = stats.open_loop([s["due"] for s in timed], [s["sent"] for s in timed],
                             [s["commit"] for s in timed])
    lat_ms = [x / 1e6 for x in lat]
    drains = [d["s"] for d in res["drains"] if not d["traced"]]
    reads = res["reads"]
    attempted = len(segs) + len(reads)
    failed = (len(segs) - len(done)) + sum(1 for r in reads if not r["ok"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (stats.median(drains), "s"),
        **latency(lat_ms),
    }, attempted, failed


# --------------------------------------------------------------- correctness

def check_queries(res, seed, seconds):
    names = sorted(res["warmup_ok"])
    want = cached_refs("curation", seed, seconds, lambda: refs.query_refs(res["data"], names))
    bad = []
    for name in names:
        got = refs.output_digest(os.path.join(res["outputs"], name))
        if got != want.get(name):
            bad.append(name)
            log(f"MISMATCH {name}: engine {got} reference {want.get(name)}")
    return bad


def check_ingest(res, seed, seconds, segs):
    want = cached_refs("ingest", seed, seconds,
                       lambda: refs.digest(list(gen.first_visits(segs).items()), ["mid", "ts"]))
    bad = []
    tables = ["uv_dim"] + [f"uv_dim_drain{k}" for k in range(len(res["drains"]))]
    for t in tables:
        got = refs.output_digest(os.path.join(res["outputs"], t))
        if got != want:
            bad.append(t)
            log(f"MISMATCH {t}: engine {got} reference {want}")
    return bad


def report_queries(rows):
    """The per-query breakdown of a traced run: a table on stderr and a
    JSON file under .bench_build/."""
    path = os.path.join(ROOT, ".bench_build", "curation-queries.json")
    with open(path, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    cols = ["wall_ms", "build_ms", "plan_ms", "jobs", "stages", "tasks", "task_ms",
            "gc_ms", "job_gap_ms", "shuffle_read_bytes", "spill_bytes", "task_skew"]
    log("query " + " ".join(f"{c:>12}" for c in cols))
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall_ms"]):
        log(f"{name.split('_')[0]:5} " + " ".join(f"{r.get(c, 0):12.1f}" for c in cols))
    log(f"per-query breakdown written to {path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.time()
    segs = prepare(a.workload, a.seed, a.seconds, data)
    log(f"inputs generated in {time.time() - t0:.1f}s")
    t0 = time.time()
    result = os.path.join(work, "result.json")
    try:
        if not run_harness(classpath, a.workload, data, work, result, a.seconds,
                           a.seed, a.trace):
            sys.exit("harness failed")
        log(f"harness ran {time.time() - t0:.1f}s")
        t0 = time.time()
        with open(result) as f:
            res = json.load(f)
        res["data"] = data
        if a.workload == "ingest":
            metrics, attempted, failed = ingest_metrics(res)
            bad = check_ingest(res, a.seed, a.seconds, segs)
        else:
            metrics, attempted, failed = query_metrics(res)
            bad = check_queries(res, a.seed, a.seconds)
        log(f"checked in {time.time() - t0:.1f}s")
        out = metrics
        if a.trace:
            out = layers.per_layer(a.workload, res, CORES)
            if a.workload == "curation":
                report_queries(layers.per_query(res))
        correct = not bad and failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
