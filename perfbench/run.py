#!/usr/bin/env python3
"""The crawl engine's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload crawl_checkpointed --seed 1 --seconds 8 --trace 0

Run from the repository root. It builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in one JVM on local[4] with
one client thread in a closed loop for --seconds (and at least the
workload's minimum number of operations), checks every output
against an oracle (Oracle.run in the JVM; DuckDB for the operator queries),
and prints the metrics by name with their units. The last line of standard
output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 runs
traced (spans, Spark listener, per-layer timings), reports the per-layer
metrics and writes the spans to .bench_work/trace-<workload>-<seed>.json.
The exit code is 0 only when every check passed.
"""
import argparse
import concurrent.futures
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("crawl_checkpointed", "query_suite")
# the JVM's limits: heap for the driver-side state; off-heap (set in the
# session) holds the prepared page snapshot
JVM_HEAP = "3g"
# wall limits of the JVM, from the start of a run: a run must end within
# 180 s, or 900 s when it compiles; the DuckDB checks follow the JVM
JVM_LIMIT_S, JVM_LIMIT_BUILD_S = 160, 870
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat: (total, idle incl. iowait, steal)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return sum(f), f[3] + f[4], f[7]


def host_noise(before, after):
    total = max(1, after[0] - before[0])
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"host.busy_share": (total - (after[1] - before[1])) / total,
            "host.steal_share": (after[2] - before[2]) / total,
            "host.load1": load1}


def applicable_metrics(workload):
    """Per-layer metrics whose layer runs in `workload`, from layers.json's
    layer -> metric -> workload map."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    return {m for layer in layers if workload in layer["workloads"] for m in layer["metrics"]}


def _load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    return co


CHECK_WORKERS = 2


def _alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def _check_query(job):
    """One query's written result against its oracle SQL in DuckDB, with
    tools/check_oracle.py's canonicalization. Returns an error or None."""
    q, sql, out, data, jvm_pid = job
    import duckdb
    import pandas as pd
    # check_oracle.py's canonicalization uses DataFrame.applymap
    warnings.simplefilter("ignore", FutureWarning)
    co = _load_check_oracle()
    try:
        con = duckdb.connect()
        for name in sorted(os.listdir(data)):
            if name.endswith(".parquet"):
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, name)}/*.parquet')")
        o = co.canon_df(con.execute(sql).fetchdf())
        # the JVM is still writing the results when the checks start: wait
        # for this query's commit, or for the pass (or the JVM) to end
        d = os.path.join(out, q)
        while not (os.path.exists(os.path.join(d, "_SUCCESS"))
                   or os.path.exists(os.path.join(out, "done")) or not _alive(jvm_pid)):
            time.sleep(0.05)
        files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
        s = co.canon_df(pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame())
        if (len(s) == len(o) and list(s.columns) == list(o.columns)
                and co.df_hash(s) == co.df_hash(o)):
            return None
        return f"{q}: DuckDB mismatch rows={len(s)}/{len(o)}"
    except Exception as e:  # a failed oracle query or a missing result fails the check
        return f"{q}: {type(e).__name__}: {e}"


def _default_signals():
    """Check workers leave stopping to the parent's handler."""
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_IGN)


def start_duckdb_checks(work, jvm_pid):
    """Submits the check of every query's written result against
    SparkEntry.oracleSql, in two processes. Started as soon as the JVM has
    written the oracle SQL, after its measured window, so they overlap the
    JVM's untimed written pass, which keeps the other two cores.
    Returns (pool, futures)."""
    out, data = os.path.join(work, "check"), os.path.join(work, "tables")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    pool = concurrent.futures.ProcessPoolExecutor(max_workers=CHECK_WORKERS,
                                                  initializer=_default_signals)
    # slowest oracle first, so the pool's tail is short
    jobs = sorted(((q, sql, out, data, jvm_pid) for q, sql in sqls.items()),
                  key=lambda j: -len(j[1]))
    return pool, [pool.submit(_check_query, j) for j in jobs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    t_start = time.time()
    cp, compiled = build.ensure_built()
    built_s = time.time() - t_start

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join(cp), "perfbench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), work, result_file]
    before = cpu_times()
    proc = subprocess.Popen(cmd, cwd=work)
    checks = None  # (pool, futures) of the DuckDB checks

    def stop(why):
        proc.kill()
        proc.wait()
        if checks:
            checks[0].shutdown(wait=True, cancel_futures=True)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {why}")
    signal.signal(signal.SIGTERM, lambda n, _f: stop(f"stopped by signal {n}"))
    signal.signal(signal.SIGINT, lambda n, _f: stop(f"stopped by signal {n}"))
    deadline = t_start + (JVM_LIMIT_BUILD_S if compiled else JVM_LIMIT_S)
    oracle_sql = os.path.join(work, "check", "oracle_sql.json")
    while proc.poll() is None:
        if a.workload == "query_suite" and checks is None and os.path.exists(oracle_sql):
            checks = start_duckdb_checks(work, proc.pid)
        if time.time() > deadline:
            stop("the run exceeded its time limit")
        time.sleep(0.1)
    noise = host_noise(before, cpu_times())
    try:
        with open(result_file) as fh:
            res = json.load(fh)
    except (OSError, ValueError):
        res = {"fatal": f"no result (JVM exit code {proc.returncode})"}
    if "fatal" in res:
        stop(res["fatal"])

    attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
    jvm_s = time.time() - t_start - built_s
    if a.workload == "query_suite":
        if checks is None:
            checks = start_duckdb_checks(work, proc.pid)
        with checks[0]:
            errs = [e for e in (f.result() for f in checks[1]) if e]
        attempted += len(checks[1])
        failed += len(errs)
        errors += errs

    if a.trace:
        os.makedirs(work_root, exist_ok=True)
        trace_file = os.path.join(work_root, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": res["spans"],
                       "self_time_s": res["self_time_s"], "per_layer": res["per_layer"],
                       "end_to_end": res["end_to_end"], "host": noise}, fh)
    shutil.rmtree(work, ignore_errors=True)

    # every metric of BENCHMARK.json; one that should have been measured and
    # was not is a failed check, not a plausible 0
    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = res["per_layer"] if a.trace else res["end_to_end"]
    applies = applicable_metrics(a.workload) if a.trace else {m["name"] for m in specs}
    metrics = {}
    for m in specs:
        if m["name"] not in values and m["name"] in applies:
            attempted += 1
            failed += 1
            errors.append(f"metric {m['name']} was not measured")
        # not measured and not applying: layers.json says the metric's layer
        # does not run in this workload
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}

    # human-readable report: inputs, host noise, then every metric by name
    print(f"workload {a.workload} seed {a.seed}: {len(res['ops'])} operations in "
          f"{res['window_s']:.1f} s (closed loop, 1 client, local[4])")
    for k, v in res["inputs"].items():
        print(f"  input {k} = {v}")
    print(f"  host busy {noise['host.busy_share']:.1%}, steal {noise['host.steal_share']:.2%}, "
          f"load1 {noise['host.load1']:.2f}")
    print(f"  set-up: session {res['setup']['session_s']:.2f} s, input builds "
          + ", ".join(f"{x:.2f}" for x in res["setup"]["input_reps_s"])
          + f" s, warm-up {res['setup']['warm_up_s']:.2f} s")
    print(f"  wall: build {built_s:.1f} s, JVM {jvm_s:.1f} s (of which checks after the window "
          f"{res['verify_s']:.1f} s), then DuckDB checks "
          f"{time.time() - t_start - built_s - jvm_s:.1f} s")
    print(f"  operations, wall (CPU) s: "
          + ", ".join(f"{o['wall_s']:.3f} ({o['cpu_s']:.2f})" for o in res["ops"]))
    for e in errors:
        print(f"  FAILED {e}")
    print(f"  error_rate = {failed / max(1, attempted):.4f} ({failed} of {attempted})")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        print(f"  spans written to {os.path.relpath(trace_file, ROOT)}; self time by layer (s):")
        for layer, s in sorted(res["self_time_s"].items(), key=lambda x: -x[1]):
            print(f"    {layer:<22} {s:9.3f}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
