"""Turns the client's per-op records into the benchmark's metrics.

End-to-end metrics come from untraced timed passes; per-layer metrics from
traced ones. Each op's median wall over the passes is its typical time:
pass and class times sum them, op percentiles are taken over them. The
per-layer totals are medians over the traced passes.
Spans nest op -> SQL execution -> job -> stage; a layer's self time is its
span's duration minus the part its child spans cover.
"""
import statistics

MB = 1e6

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "read_s": "s", "write_s": "s", "stream_s": "s", "ops_ok_frac": "frac",
    "driver_heap_mb": "MB", "store_mb": "MB",
}

PER_LAYER = {
    "core.handle_polls": "count", "core.progress_regressions": "count",
    "core.close_lag_ms": "ms",
    "queries.build_s": "s", "queries.action_s": "s", "queries.self_s": "s",
    "catalyst.executions": "count", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.self_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_s": "s", "scheduler.driver_gap_s": "s", "scheduler.self_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.deserialize_s": "s", "executor.busy_frac": "frac",
    "shuffle.rounds": "count", "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.records": "count", "shuffle.replication": "ratio",
    "shuffle.max_reducer_mb": "MB", "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_records": "count", "sources.files_read": "count",
    "tables.output_mb": "MB", "tables.output_records": "count",
    "tables.files_written": "count", "tables.versions_committed": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}


def quantile(values, p):
    """The p-quantile, interpolated linearly between the closest ranks."""
    s = sorted(values)
    x = p * (len(s) - 1)
    i = int(x)
    return s[i] if i + 1 >= len(s) else s[i] + (x - i) * (s[i + 1] - s[i])


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of `intervals` (ms)."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def check(rec, expected):
    """None when the op's result matches ops.json, else the reason."""
    if rec["error"] is not None:
        return rec["error"]
    exp = expected.get(rec["id"])
    if exp is None:
        return "no expected result"
    if rec["rows"] != exp["rows"] or rec["digest"] != exp["digest"]:
        return f"got {rec['rows']} rows/{rec['digest']}, expected {exp['rows']}/{exp['digest']}"
    return None


def by_pass(recs):
    passes = {}
    for r in recs:
        passes.setdefault(r["pass"], []).append(r)
    return [passes[k] for k in sorted(passes)]


def per_op(recs):
    walls = {}
    for r in recs:
        walls.setdefault(r["id"], []).append(r["wall_s"])
    return walls


def layer_pass(recs, cores):
    """Per-layer totals of one traced pass."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    lags, batch_ms, max_sr = [], [], 0
    wall = 0.0
    for r in recs:
        lo = r["t0_ms"]
        hi = lo + r["wall_s"] * 1000.0
        wall += r["wall_s"]
        m["core.handle_polls"] += r["polls"]
        m["core.progress_regressions"] += r["regressions"]
        lags.append(r["close_lag_ms"])
        m["queries.build_s"] += r["build_s"]
        m["queries.action_s"] += r["action_s"]
        m["tables.files_written"] += r["new_files"]
        m["tables.versions_committed"] += r["new_manifests"]
        starts, execs, jobs, stages = {}, {}, [], []
        for s in r["spans"]:
            k = s["k"]
            if k == "exec_start":
                starts[s["id"]] = s["t"]
            elif k == "exec_end" and s["id"] in starts:
                execs[s["id"]] = (starts[s["id"]], s["t"])
            elif k == "job":
                jobs.append(s)
            elif k == "stage":
                stages.append(s)
            elif k == "qe":
                m["catalyst.executions"] += 1
                m["catalyst.analysis_ms"] += s["analysis_ms"]
                m["catalyst.optimization_ms"] += s["optimization_ms"]
                m["catalyst.planning_ms"] += s["planning_ms"]
                m["sources.files_read"] += s["files_read"]
            elif k == "batch":
                m["streaming.batches"] += 1
                m["streaming.input_rows"] += s["rows"]
                batch_ms.append(s["dur_ms"])
        job_iv = [(j["t0"], j["t1"]) for j in jobs]
        m["queries.self_s"] += r["wall_s"] - union_s(job_iv + list(execs.values()), lo, hi)
        m["scheduler.driver_gap_s"] += r["wall_s"] - union_s(job_iv, lo, hi)
        for eid, (a, b) in execs.items():
            inner = [(j["t0"], j["t1"]) for j in jobs if j["exec"] == eid]
            m["catalyst.self_s"] += (b - a) / 1000.0 - union_s(inner, a, b)
        for j in jobs:
            m["scheduler.jobs"] += 1
            m["scheduler.job_s"] += (j["t1"] - j["t0"]) / 1000.0
            inner = [(s["t0"], s["t1"]) for s in stages if s["job"] == j["id"]]
            m["scheduler.self_s"] += (j["t1"] - j["t0"]) / 1000.0 - union_s(inner, j["t0"], j["t1"])
        for s in stages:
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += s["tasks"]
            m["executor.run_s"] += s["run_ms"] / 1000.0
            m["executor.cpu_s"] += s["cpu_ns"] / 1e9
            m["executor.gc_s"] += s["gc_ms"] / 1000.0
            m["executor.deserialize_s"] += s["deser_ms"] / 1000.0
            m["shuffle.rounds"] += 1 if s["shuffle_map"] else 0
            m["shuffle.write_mb"] += s["sw_bytes"] / MB
            m["shuffle.read_mb"] += s["sr_bytes"] / MB
            m["shuffle.records"] += s["sw_records"]
            m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1000.0
            m["shuffle.spill_mb"] += s["spill_disk"] / MB
            m["sources.input_mb"] += s["in_bytes"] / MB
            m["sources.input_records"] += s["in_records"]
            m["tables.output_mb"] += s["out_bytes"] / MB
            m["tables.output_records"] += s["out_records"]
            max_sr = max(max_sr, s["max_sr_bytes"])
    m["core.close_lag_ms"] = statistics.median(lags) if lags else 0.0
    m["executor.busy_frac"] = m["executor.run_s"] / (cores * wall) if wall else 0.0
    m["shuffle.replication"] = (m["shuffle.records"] / m["sources.input_records"]
                                if m["sources.input_records"] else 0.0)
    m["shuffle.max_reducer_mb"] = max_sr / MB
    m["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    return m


def typical_pass(passes):
    """op id -> median wall over the passes. Their sum is the typical pass:
    each op's median discards that op's own disturbed runs, where the
    median of pass totals could only discard whole passes."""
    return {i: statistics.median(ws) for i, ws in per_op([r for p in passes for r in p]).items()}


def summarize(recs, meta, ops, setup_s, trace):
    failures = []
    for r in recs:
        why = check(r, ops)
        r["ok"] = why is None
        if why is not None:
            failures.append({"pass": r["pass"], "id": r["id"], "why": why})
    timed = [r for r in recs if not r["warm"]]
    plain = [p for p in by_pass(timed) if not p[0]["traced"]]
    traced = [p for p in by_pass(timed) if p[0]["traced"]]
    attempted = len(timed)
    failed = sum(1 for r in timed if not r["ok"])
    warm_failed = sum(1 for r in recs if r["warm"] and not r["ok"])
    op_median = typical_pass(plain)
    pass_s = sum(op_median.values())
    notes = {
        "passes": len(plain) + len(traced), "traced_passes": len(traced),
        "op_samples": sum(len(p) for p in plain),
        "warm_failed": warm_failed, "failures": failures[:20],
        "op_median_s": {i: round(v, 4) for i, v in sorted(op_median.items())},
    }
    if not trace:
        def class_s(c):
            return sum(v for i, v in op_median.items() if ops.get(i, {}).get("class") == c)
        values = {
            "setup_s": setup_s, "pass_s": pass_s,
            "op_p50_s": quantile(op_median.values(), 0.5),
            "op_p90_s": quantile(op_median.values(), 0.9),
            "read_s": class_s("read"), "write_s": class_s("write"), "stream_s": class_s("stream"),
            "ops_ok_frac": 1.0 - failed / attempted if attempted else 0.0,
            "driver_heap_mb": meta["heap_bytes"] / MB, "store_mb": meta["store_bytes"] / MB,
        }
        units = END_TO_END
    else:
        per_pass = [layer_pass(p, meta["cores"]) for p in traced]
        values = {k: statistics.median(pp[k] for pp in per_pass) for k in PER_LAYER}
        values["trace.pass_s"] = sum(typical_pass(traced).values())
        values["trace.overhead_s"] = values["trace.pass_s"] - pass_s
        units = PER_LAYER
    return {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "notes": notes,
    }
