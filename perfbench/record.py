"""Re-derives the expected results in ops.json.

For each workload, in a fresh store: run every op of the workload twice in sorted order (both passes traced), dump the first
pass's results as parquet and compare them with the DuckDB oracles through
the repository's tools/check.py, on the same fixture tables. The first pass's row counts and digests are
kept only when the oracle agrees. An op's class comes from what the second
(steady) pass saw: a Structured Streaming query started -> `stream`; files
or table versions written -> `write`; otherwise `read`. An op whose
second-pass digest differs from its first is reported: its result depends
on state left by earlier runs.

DuckDB runs with a memory cap. An oracle that cannot finish inside it is
recorded as `"oracle": "out of memory"` with the engine's own digest, so the
benchmark still notices when that op's result changes.

Workload membership and the `core` flag are kept from the existing ops.json.

Run: python3 perfbench/run.py --record   (about ten minutes)
"""
import json
import os
import subprocess
import sys

import run as bench

DUCKDB_MEMORY = "3GB"
# tools/check.py with every DuckDB connection capped: the brute-force
# oracles otherwise take most of the machine's memory.
CAPPED_CHECK = f"""
import runpy, sys, duckdb
_connect = duckdb.connect
def connect(*a, **k):
    c = _connect(*a, **k)
    c.execute("SET memory_limit='{DUCKDB_MEMORY}'")
    c.execute("SET threads=2")
    c.execute("SET enable_progress_bar=false")
    return c
duckdb.connect = connect
sys.argv = sys.argv[1:]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def op_class(rec):
    spans = rec.get("spans", [])
    if any(s["k"] == "stream_start" for s in spans):
        return "stream"
    if rec["new_files"] or rec["new_manifests"] or any(
            s["k"] == "stage" and s["out_bytes"] for s in spans):
        return "write"
    return "read"


def oracle_verdicts(dump, data_dir):
    """op id -> check.py's verdict line."""
    out = subprocess.run(
        [sys.executable, "-c", CAPPED_CHECK, os.path.join(bench.ROOT, "tools", "check.py"),
         dump, data_dir], capture_output=True, text=True).stdout
    verdicts = {}
    for ln in out.splitlines():
        ln = ln.split("\r")[-1]
        if ln[:3] in ("XX ", "   ") and ": " in ln:
            k, v = ln[3:].split(": ", 1)
            verdicts[k] = ("ok" if ln.startswith("   ") else v)
    return verdicts


def record(args):
    ops = bench.load_ops()
    cp = bench.classpath()
    new, findings, ok = {}, [], True
    args.trace = 1
    for wl, spec in bench.WORKLOADS.items():
        ids = sorted(k for k, v in ops.items() if v["workload"] == wl)
        with bench.fresh_dir(f"record-{wl}-") as run_dir:
            dump = os.path.join(run_dir, "dump")
            os.makedirs(dump)
            recs, _, _ = bench.run_jvm(
                cp, run_dir, spec["data"], ids, args, spec["client"],
                ["--order", "sorted", "--warm", "0", "--passes", "2", "--dump", dump])
            verdicts = oracle_verdicts(dump, spec["data"])
        first = {r["id"]: r for r in recs if r["pass"] == 0}
        second = {r["id"]: r for r in recs if r["pass"] == 1}
        for i in ids:
            a, b = first[i], second[i]
            verdict = verdicts.get(i, "no result dumped")
            if verdict.startswith("ORACLE-FAIL Out of Memory"):
                verdict = "out of memory"
            elif verdict != "ok":
                ok = False
                print(f"[{wl}] {i}: {verdict}")
            if a["error"] or b["error"]:
                ok = False
                print(f"[{wl}] {i} failed: {a['error'] or b['error']}")
                continue
            if (a["rows"], a["digest"]) != (b["rows"], b["digest"]):
                findings.append(f"{i}: pass 1 {a['rows']}/{a['digest']} vs pass 2 "
                                f"{b['rows']}/{b['digest']}")
            new[i] = {"workload": wl, "core": ops[i]["core"], "class": op_class(b),
                      "rows": a["rows"], "digest": a["digest"], "oracle": verdict}
        print(f"[{wl}] {len(ids)} ops recorded")
    for f in findings:
        print(f"order dependence: {f}")
    if not ok:
        bench.fail("not every op passed; ops.json left unchanged")
    with open(bench.OPS_FILE, "w") as f:
        json.dump(dict(sorted(new.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {len(new)} ops to {bench.OPS_FILE}")
