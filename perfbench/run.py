#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark client from source (once per source
state), starts one JVM running one closed-loop client (`perfbench.Main`) on
Spark `local[N]` over the seed-42 fixture tables in `fixtures/`, checks every
op's row count and digest against `ops.json`, and prints the metrics as the
last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Every run works in a fresh directory under `.perfbench/` in
the checkout (`java.io.tmpdir`, the SQL warehouse, Spark's local dir) and
deletes it at the end. README.md in this directory describes the
workloads and metrics.

Other commands:
    --full              run every op of the workload instead of its core set
    --record            re-derive ops.json: run every workload in a fresh
                        store, check the results with tools/check.py against
                        DuckDB, and keep row counts, digests and op classes
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

OPS_FILE = os.path.join(HERE, "ops.json")
WORK = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 170
FULL_TIMEOUT_S = 1500
# Input tables and client per workload. The inputs are copies of the
# engine's seed-42 test fixtures (fixtures/SHA256SUMS); the workload seed
# only orders the ops within each pass.
WORKLOADS = {
    "batch_sf1": {"data": os.path.join(HERE, "fixtures", "sf0.01"), "client": "jobtracker"},
    "lake_mixed": {"data": os.path.join(HERE, "fixtures", "sf0.001"), "client": "direct"},
}
WARM_PASSES = 1
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_ops(path=OPS_FILE):
    def no_dups(pairs):
        keys = [k for k, _ in pairs]
        dup = {k for k in keys if keys.count(k) > 1}
        if dup:
            raise ValueError(f"duplicate keys in {path}: {sorted(dup)}")
        return dict(pairs)
    with open(path) as f:
        return json.load(f, object_pairs_hook=no_dups)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile engine + client if the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src: run from a checkout of the repository")
    stamp_file = os.path.join(HERE, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cp = lines[-1]
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ---------------------------------------------------------------- host receipts

def host_receipt(probe_dir):
    """loadavg, CPU time stolen by the hypervisor so far, page cache and
    store-disk write speed, to tell a host event from a regression."""
    r = {}
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        r["cpu_steal_s"] = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        r["cpu_steal_s"] = -1.0
    try:
        with open("/proc/loadavg") as f:
            r["loadavg"] = " ".join(f.read().split()[:3])
    except OSError:
        r["loadavg"] = ""
    try:
        kv = {}
        with open("/proc/meminfo") as f:
            for ln in f:
                k, v = ln.split(":", 1)
                kv[k] = int(v.split()[0])
        r["buff_cache_gib"] = round((kv.get("Buffers", 0) + kv.get("Cached", 0)) / 1048576.0, 2)
    except (OSError, ValueError):
        r["buff_cache_gib"] = -1.0
    probe = os.path.join(probe_dir, "disk.probe")
    buf = b"\0" * (1 << 20)
    t0 = time.perf_counter()
    with open(probe, "wb") as f:
        for _ in range(8):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    r["store_write_mbps"] = round(8.0 / (time.perf_counter() - t0), 1)
    os.remove(probe)
    return r


# ---------------------------------------------------------------- running

@contextlib.contextmanager
def fresh_dir(prefix):
    """A new directory under WORK, deleted (with WORK, once empty) on exit."""
    os.makedirs(WORK, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=WORK)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def run_jvm(cp, run_dir, data_dir, ids, args, client, extra=()):
    """Run perfbench.Main once; returns (ops records, run.json, jvm start epoch s)."""
    store = os.path.join(run_dir, "store")
    tmp, wh = os.path.join(store, "tmp"), os.path.join(store, "warehouse")
    local, out = os.path.join(run_dir, "local"), os.path.join(run_dir, "out")
    for d in (tmp, wh, local, out):
        os.makedirs(d, exist_ok=True)
    ops_list = os.path.join(run_dir, "ops.txt")
    with open(ops_list, "w") as f:
        f.write("\n".join(ids) + "\n")
    cmd = ["java", f"-Xmx{args.heap}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--mode", "run", "--cores", str(args.cores),
            "--data", data_dir, "--warehouse", wh, "--local", local, "--out", out,
            "--ops", ops_list, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--client", client, "--warm", str(WARM_PASSES)]
    cmd += list(extra)
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=args.jvm_timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM failed ({rc})")
    with open(os.path.join(out, "ops.jsonl")) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    with open(os.path.join(out, "run.json")) as f:
        meta = json.load(f)
    return recs, meta, t0


def cores_for(requested):
    return max(1, min(requested, len(os.sched_getaffinity(0))))


def bench(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    ops = load_ops()
    spec = WORKLOADS[args.workload]
    ids = sorted(k for k, v in ops.items()
                 if v["workload"] == args.workload and (v["core"] or args.full))
    if not ids:
        fail(f"no ops in workload {args.workload}")
    cp = classpath()
    with fresh_dir(f"{args.workload}-{args.seed}-") as run_dir:
        before = host_receipt(run_dir)
        recs, meta, jvm_t0 = run_jvm(cp, run_dir, spec["data"], ids, args, spec["client"])
        after = host_receipt(run_dir)
    setup_s = meta["timed_start_ms"] / 1000.0 - jvm_t0
    result = metrics.summarize(recs, meta, ops, setup_s, trace=args.trace == 1)
    phases = {"session_s": round(meta["session_ready_ms"] / 1000.0 - jvm_t0, 3),
              "warm_s": round((meta["timed_start_ms"] - meta["session_ready_ms"]) / 1000.0, 3)}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": args.cores,
                      "ops": len(ids), "setup": phases, "host_before": before,
                      "host_after": after, **result["notes"]}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=7)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--heap", default="3g")
    p.add_argument("--full", action="store_true",
                   help="run every op of the workload, not only its core set (takes minutes)")
    p.add_argument("--record", action="store_true")
    args = p.parse_args()
    args.cores = cores_for(args.cores)
    args.jvm_timeout = FULL_TIMEOUT_S if args.full or args.record else JVM_TIMEOUT_S
    if args.record:
        import record
        record.record(args)
    else:
        if not args.workload:
            fail("--workload is required")
        bench(args)


if __name__ == "__main__":
    main()
