"""Per-layer metrics of a traced run, and the per-query breakdown.

Counters come from the harness's listeners (see Probe.scala), keyed by
scope: `build:<query>` is the query's `Q.run` call, `<query>` its
execution, `upsert` and `read` the DimStore calls of the ingest workload.
Every metric is emitted for every workload; a layer a workload does not
exercise reads 0.
"""
import stats

EXEC_KEYS = ["jobs", "stages", "tasks", "failed_tasks", "task_ms", "cpu_ms", "gc_ms",
             "plan_ms", "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes"]

UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count", "plans.plan_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_gap_ms": "ms", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.busy_frac": "ratio", "core.scan_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio", "exec.failed_tasks": "count",
    "streaming.trigger_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "streaming.backlog_segments": "count", "streaming.drain_eps": "1/s",
    "streaming.drain_eps_1core": "1/s", "ops.upsert_ms": "ms", "ops.upsert_jobs": "count",
    "ops.read_jobs": "count", "ops.read_p50_ms": "ms", "ops.read_tail_ms": "ms",
    "ops.store_bytes_per_row": "bytes", "ops.versions": "count", "gen.lag_ms": "ms",
    "trace_overhead": "ratio",
}


def _sum(scopes, key, pick=lambda name: True):
    return sum(c[key] for name, c in scopes.items() if pick(name))


def _exec(out, scopes, wall_s, cores):
    """The exec.* and core.* figures over every scope of one traced phase."""
    out["exec.jobs"] = _sum(scopes, "jobs")
    out["exec.stages"] = _sum(scopes, "stages")
    out["exec.tasks"] = _sum(scopes, "tasks")
    out["exec.failed_tasks"] = _sum(scopes, "failed_tasks")
    out["exec.task_ms"] = _sum(scopes, "task_ms")
    out["exec.cpu_ms"] = _sum(scopes, "cpu_ms")
    out["exec.gc_ms"] = _sum(scopes, "gc_ms")
    out["exec.busy_frac"] = out["exec.task_ms"] / (wall_s * 1000 * cores)
    out["core.scan_bytes"] = _sum(scopes, "scan_bytes")
    out["exec.shuffle_read_bytes"] = _sum(scopes, "shuffle_read_bytes")
    out["exec.shuffle_write_bytes"] = _sum(scopes, "shuffle_write_bytes")
    out["exec.spill_bytes"] = _sum(scopes, "spill_bytes")
    out["exec.task_skew"] = max([c["task_skew"] for c in scopes.values()] + [0.0])
    out["plans.plan_ms"] = _sum(scopes, "plan_ms")


def per_query(res):
    """Rows of the per-query breakdown: wall, build and execution time, and
    the layer counters of the traced pass."""
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    scopes = res["layers"][0] if res["layers"] else {}
    rows = {}
    for name in sorted({s["name"] for p in res["passes"] for s in p["queries"]}):
        walls = [s["ms"] for p in plain for s in p["queries"] if s["name"] == name]
        t = [s for p in traced for s in p["queries"] if s["name"] == name]
        row = {"wall_ms": stats.median(walls)}
        if t:
            run, build = scopes.get(name, {}), scopes.get("build:" + name, {})
            row["traced_wall_ms"] = t[0]["ms"]
            row["build_ms"] = t[0]["build_ms"]
            row["build_jobs"] = build.get("jobs", 0)
            for k in EXEC_KEYS:
                row[k] = run.get(k, 0) + build.get(k, 0)
            row["task_skew"] = max(run.get("task_skew", 0), build.get("task_skew", 0))
            busy = run.get("job_busy_ms", 0) + build.get("job_busy_ms", 0)
            row["job_gap_ms"] = max(0.0, t[0]["ms"] - busy)
        rows[name] = row
    return rows


def per_layer(workload, res, cores):
    out = {k: 0.0 for k in UNITS}
    if workload == "ingest":
        _ingest(out, res, cores)
    else:
        _queries(out, res, cores)
    return {k: (float(v), UNITS[k]) for k, v in out.items()}


def _queries(out, res, cores):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    scopes = res["layers"][0]
    wall = traced[0]["wall_s"]
    _exec(out, scopes, wall, cores)
    out["queries.build_ms"] = sum(s["build_ms"] for s in traced[0]["queries"])
    out["queries.build_jobs"] = _sum(scopes, "jobs", lambda n: n.startswith("build:"))
    rows = per_query(res)
    out["exec.job_gap_ms"] = sum(r.get("job_gap_ms", 0) for r in rows.values())
    out["trace_overhead"] = wall / stats.median([p["wall_s"] for p in plain])


def _ingest(out, res, cores):
    scopes = res["layers_open"]
    segs = res["segments"]
    # the counters cover the whole open loop, warm-up included
    span_s = (max(s["commit"] for s in segs) - min(s["due"] for s in segs)) / 1e9
    _exec(out, scopes, span_s, cores)
    # the per-batch and per-lookup figures cover the timed part only
    timed = {s["batch"] for s in segs if s["timed"]}
    prog = [p for p in res["progress"] if p["batch"] in timed]
    upsert_ms = [ms for b, ms in res["upsert_ms"] if b in timed]

    def phase(key):
        xs = [p["duration_ms"].get(key, 0) for p in prog]
        return stats.median(xs) if xs else 0.0

    out["streaming.trigger_ms"] = phase("triggerExecution")
    out["streaming.latest_offset_ms"] = phase("latestOffset")
    out["streaming.query_planning_ms"] = phase("queryPlanning")
    out["streaming.add_batch_ms"] = phase("addBatch")
    out["streaming.wal_commit_ms"] = phase("walCommit")
    if prog:
        out["streaming.state_rows"] = prog[-1]["state_rows"]
        out["streaming.state_bytes"] = prog[-1]["state_bytes"]
        out["streaming.state_commit_ms"] = stats.median([p["state_commit_ms"] for p in prog])
    out["streaming.backlog_segments"] = stats.backlog(
        [s["sent"] for s in segs], [s["commit"] for s in segs], [c[1] for c in res["commits"]])
    n_commits = max(1, len(res["upsert_ms"]))
    out["ops.upsert_ms"] = stats.median(upsert_ms)
    out["ops.upsert_jobs"] = scopes.get("upsert", {}).get("jobs", 0) / n_commits
    reads = [r for r in res["reads"] if r["ok"]]
    read_ms = [(r["end"] - r["due"]) / 1e6 for r in reads if r["timed"]]
    out["ops.read_jobs"] = scopes.get("read", {}).get("jobs", 0) / max(1, len(reads))
    if read_ms:
        out["ops.read_p50_ms"] = stats.percentile(read_ms, 50)
        p = stats.tail_percentile(len(read_ms)) or 50
        out["ops.read_tail_ms"] = stats.percentile(read_ms, p)
    out["ops.store_bytes_per_row"] = res["store_bytes_per_row"]
    out["ops.versions"] = res["versions"]
    _, lateness = stats.open_loop([s["due"] for s in segs if s["timed"]],
                                  [s["sent"] for s in segs if s["timed"]],
                                  [s["commit"] for s in segs if s["timed"]])
    out["gen.lag_ms"] = max(lateness) / 1e6
    plain = [d["s"] for d in res["drains"] if not d["traced"]]
    traced = [d["s"] for d in res["drains"] if d["traced"]]
    out["streaming.drain_eps"] = res["events"] / stats.median(plain)
    if traced:
        out["trace_overhead"] = traced[0] / stats.median(plain)
    if "drain_1core_s" in res:
        out["streaming.drain_eps_1core"] = res["events"] / res["drain_1core_s"]
