#!/usr/bin/env python3
"""The benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload multiset_dml --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the harness (and with
it the program) with sbt, generates the input tables and caches the
operator-library oracle answers under perfbench/.work/build/<hash of the
sources>/. Each run then starts one JVM on the built classpath, which sets
up, warms up and runs whole rounds of the workload's fixed script for
--seconds. Every answer is checked against DuckDB after the JVM exits.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (see README.md).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import gen_data  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["multiset_dml", "corpus_ops"]
SLOTS = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
JVM_TIMEOUT_S = 150
# The JIT compiles hot code after a tenth of its default invocation counts.
# At the defaults, corpus_ops operations still got 10-30% faster each round
# for four rounds and kept drifting down for twenty, so a run's figures
# depended on how far its JVM's compilation had got, and that spread widely
# from run to run; at a tenth they are flat from the second round on.
JIT = ["-XX:CompileThresholdScaling=0.1"]
# Untimed work before timing starts: corpus_ops runs whole rounds;
# multiset_dml runs steps of its script on a scratch table and view, which
# it drops, so the timed round starts from the set-up's state.
WARMUP = {"multiset_dml": 1, "corpus_ops": 2}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# --- build --------------------------------------------------------------------

def _source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*", "perfbench/gen_data.py", "perfbench/oracle.py"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Build once per source state; return the build directory."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)", 2)
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    for old in glob.glob(os.path.join(WORK, "build", "*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true", "-Xmx2g"]).strip()
    run_logged(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeClasspath"],
               BENCH, os.path.join(out, "sbt.log"), 780, env)
    shutil.copy(os.path.join(BENCH, "target", "classpath.txt"), out)
    log(f"built in {time.time() - t0:.1f}s")
    data = os.path.join(out, "data")
    gen_data.generate(data)
    scratch = os.path.join(out, "scratch")
    os.makedirs(scratch)
    sql_file = os.path.join(scratch, "oracles.json")
    jvm(out, ["oracles", ",".join(oracle.CORPUS_OPS), sql_file], scratch)
    with open(sql_file) as fh:
        oracle_sql = json.load(fh)
    expected = oracle.corpus_expected(oracle.connect(data, scratch), oracle_sql)
    shutil.rmtree(scratch)
    with open(os.path.join(out, "corpus_expected.json"), "w") as fh:
        json.dump(expected, fh)
    open(os.path.join(out, "DONE"), "w").close()
    log(f"prepared inputs in {time.time() - t0:.1f}s")
    return out


# --- one JVM ------------------------------------------------------------------

def jvm(build_dir, args, run_dir, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in one JVM whose scratch all lives in run_dir."""
    with open(os.path.join(build_dir, "classpath.txt")) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JIT, *ADD_OPENS, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", cp, "perfbench.Main", *args]
    run_logged(cmd, run_dir, os.path.join(run_dir, "jvm.log"), timeout)


def run_logged(cmd, cwd, logpath, timeout, env=None):
    """Run cmd in its own process group with output to logpath; on failure
    print the log's tail and exit. A timeout kills the whole group."""
    with open(logpath, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(logpath) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"{cmd[0]} failed ({rc})")


# --- checking -----------------------------------------------------------------

def check(workload, res, expected):
    """Mark each timed operation ok or failed; returns the ops."""
    outs = {k: oracle.jvm_rows(v) for k, v in res["outputs"].items()}
    ops = res["ops"]
    for op in ops:
        op["ok"] = op["error"] is None
    if workload != "multiset_dml":
        for op in ops:
            if op["ok"] and outs[op["out"]] != expected[op["kind"]]:
                op["ok"] = False
                log(f"wrong answer: {op['kind']} (round {op['round']})")
    else:
        for rnd in sorted({op["round"] for op in ops}):
            rops = [op for op in ops if op["round"] == rnd]
            reads = [op for op in rops if op["kind"] == "read"]
            views = [op for op in rops if op["kind"] == "ivm_read"]
            for i, (r, v) in enumerate(zip(reads, views)):
                if r["ok"] and outs[r["out"]] != expected["read"][i]:
                    r["ok"] = False
                    log(f"wrong answer: read step {i} (round {rnd})")
                if v["ok"]:
                    got = outs[v["out"]]
                    # the view ≡ a GROUP BY recompute over the table: the read
                    # of the same step, key/count/sum columns
                    recompute = [row[:5] for row in outs[r["out"]]] if r["error"] is None else None
                    if got != expected["ivm_read"][i] or [row[:5] for row in got] != recompute:
                        v["ok"] = False
                        log(f"wrong answer: ivm_read step {i} (round {rnd})")
        for end in res["round_ends"]:
            if outs[end["contents"]] != expected["contents"]:
                log(f"wrong table contents at the end of round {end['round']}")
                for op in ops:
                    if op["round"] == end["round"] and op["rw"] == "write":
                        op["ok"] = False
    return ops


# --- metrics ------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, ops):
    good = [op for op in ops if op["ok"]]
    by_kind = {}
    for op in good:
        by_kind.setdefault(op["kind"], []).append(op["ms"])
    gmean = math.exp(statistics.fmean(math.log(median(v)) for v in by_kind.values())) \
        if by_kind else 0.0
    return {
        "setup_s": (res["setup_s"], "s"),
        "throughput_ops_s": (len(good) / res["timed_wall_s"], "ops/s"),
        "latency_p50_gmean_ms": (gmean, "ms"),
        "retained_heap_mb": (res["heap_after_gc_mb"], "MB"),
    }


def per_layer(workload, res, ops):
    spans = [dict(zip(["id", "name", "op", "phase", "parent", "start", "end"], s))
             for s in res["spans"]]

    def span_ms(name, phases=lambda p: p >= 0):
        return [(s["end"] - s["start"]) / 1e6 for s in spans
                if s["name"] == name and phases(s["phase"])]

    def setup_ms(name):
        return (span_ms(name, lambda p: p == -2) or [0.0])[0]

    def counter_mean(name):
        return statistics.fmean(op["counters"].get(name, 0.0) for op in ops) if ops else 0.0

    def op_ms(pred):
        return median([op["ms"] for op in ops if op["ok"] and pred(op)])

    ends = res["round_ends"]
    last = ends[-1] if ends else {}
    m = {
        "engine.build_ms": (setup_ms("engine.build"), "ms"),
        "engine.register_ms": (setup_ms("engine.register"), "ms"),
        "sql.session_init_ms": (setup_ms("sql.session_init"), "ms"),
        "sql.call_ms": (median(span_ms("sql.call")), "ms"),
        "sql.fetch_ms": (median(span_ms("sql.fetch")), "ms"),
    }
    for p in ["analysis", "optimization", "planning"]:
        vals = [op["counters"][f"plan.{p}_ms"] for op in ops if f"plan.{p}_ms" in op["counters"]]
        m[f"plan.{p}_ms"] = (median(vals), "ms")
    for c, unit in [("jobs", "jobs/op"), ("tasks", "tasks/op"), ("task_ms", "ms/op"),
                    ("cpu_ms", "ms/op"), ("gc_ms", "ms/op"), ("input_bytes", "B/op"),
                    ("shuffle_read_bytes", "B/op"), ("shuffle_write_bytes", "B/op"),
                    ("spill_bytes", "B/op"), ("output_bytes", "B/op")]:
        m[f"exec.{c}"] = (counter_mean(f"exec.{c}"), unit)
    m.update({
        "sources.chain_versions": (last.get("chain_versions", 0), "count"),
        "sources.compactions": (last.get("compactions", 0), "count"),
        "sources.bytes_written": (last.get("table_bytes", 0), "B"),
        "sources.snapshot_plan_ms": (median(span_ms("sources.snapshot_plan")), "ms"),
        "ivm.initialize_ms": (setup_ms("ivm.initialize"), "ms"),
        "ivm.apply_ms": (median(span_ms("ivm.apply")), "ms"),
        "ivm.read_ms": (op_ms(lambda op: op["kind"] == "ivm_read"), "ms"),
        "ivm.state_bytes": (last.get("view_bytes", 0), "B"),
        "queries.build_ms": (median(span_ms("queries.build")), "ms"),
        "queries.exec_ms": (median(span_ms("queries.exec")), "ms"),
        "jvm.gc_ms": (res["jvm_gc_ms"] / len(ops) if ops else 0.0, "ms/op"),
        "jvm.heap_after_gc_mb": (res["heap_after_gc_mb"], "MB"),
    })
    multiset = workload == "multiset_dml"
    m["write_p50_ms"] = (op_ms(lambda op: op["rw"] == "write") if multiset else 0.0, "ms")
    m["read_p50_ms"] = (op_ms(lambda op: op["rw"] == "read") if multiset else 0.0, "ms")
    m["storage_bytes_per_row"] = (
        last["storage_bytes"] / last["live_rows"] if multiset and ends else 0.0, "B/row")
    return m


# --- main ---------------------------------------------------------------------

T0 = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = build()
    data = os.path.join(build_dir, "data")
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    try:
        plan = {"workload": a.workload, "trace": bool(a.trace), "data_dir": data,
                "work_dir": os.path.join(run_dir, "state"), "slots": SLOTS,
                "seconds": a.seconds, "warmup": WARMUP[a.workload]}
        if a.workload == "corpus_ops":
            plan.update(oracle.corpus_plan(a.seed))
            with open(os.path.join(build_dir, "corpus_expected.json")) as fh:
                expected = json.load(fh)
        else:
            con = oracle.connect(data, run_dir)
            script, expected = oracle.multiset_plan(a.seed, con)
            con.close()
            plan.update(script)
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        result_path = os.path.join(run_dir, "result.json")
        t_jvm = time.time()
        jvm(build_dir, [plan_path, result_path], run_dir)
        t_jvm = time.time() - t_jvm
        with open(result_path) as fh:
            res = json.load(fh)
        ops = check(a.workload, res, expected)
        e2e = end_to_end(res, ops)
        if a.trace:
            metrics = per_layer(a.workload, res, ops)
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"spans": res["spans"], "ops": ops,
                           "end_to_end": {k: v[0] for k, v in e2e.items()}}, fh)
            log("traced end-to-end: " + json.dumps({k: v[0] for k, v in e2e.items()}))
        else:
            metrics = e2e
        failed = sum(1 for op in ops if not op["ok"])
        kinds = {}
        for op in ops:
            kinds.setdefault(op["kind"], []).append(op["ms"])
        log(f"{a.workload} seed {a.seed}: {res['rounds']} rounds, {len(ops)} ops, {failed} failed; "
            f"JVM {t_jvm:.1f}s, run {time.time() - T0:.1f}s; median ms "
            + " ".join(f"{k}={median(v):.0f}" for k, v in kinds.items()))
        print(json.dumps({
            # a wrong answer fails its operation and the run's correctness;
            # an operation that raised is failed but answered nothing wrong
            "correct": all(op["ok"] for op in ops if op["error"] is None),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
