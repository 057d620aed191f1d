#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload replay_service --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark from source on first use (build.py),
runs one JVM with Spark local[nproc], checks the outputs and prints, as
its last line, {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Exits non-zero, printing no result, when it
cannot build or run.
"""
import argparse
import glob
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
import digest  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 172

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def check_outputs(out_dir, checks):
    """(op, reason) for each query output whose digest differs from the
    oracle's; `checks` maps the op that wrote an output to its query."""
    import duckdb

    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    bad = []
    for op, name in checks.items():
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if name not in expected:
            bad.append((op, "no expected digest"))
        elif not files:
            bad.append((op, "no output"))
        else:
            got = digest.of_relation(con.execute(
                "SELECT * FROM read_parquet(?)", [files]))
            if got != expected[name]:
                bad.append((op, "output digest differs from the oracle's "
                                f"({got['rows']} rows, expected {expected[name]['rows']})"))
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    started = time.time()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if not os.path.isdir(DATA):
        fail(f"missing input tables under {os.path.relpath(DATA, ROOT)}")

    built = time.time()
    classes = build.build()
    deadline = DEADLINE_S if time.time() - built < 10 else 900 - (time.time() - started)

    run_dir = os.path.join(ROOT, ".bench_build", "run", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = classes + ":" + os.path.join(build.spark_jars(), "*")
    # ParallelGC: G1's concurrent marking started at varying points and
    # added up to a third to a run's CPU seconds. A fixed set of JIT
    # compiler threads: the CPU metrics leave theirs out (Cpu in Trace.scala)
    cmd = ["java", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", DATA,
            "--run-dir", run_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit", 3)
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited {rc} without a result", 3)
    with open(result_path) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed_ops = set(res["failed_ops"])
    if res["checks"]:
        for op, why in check_outputs(os.path.join(run_dir, "out"), res["checks"]):
            failed_ops.add(op)
            failures.append(f"{op}: {why}")
    got = res["metrics"]
    if a.trace:
        # a layer the workload never enters did no work: zero, not missing
        for m, unit in wanted.items():
            got.setdefault(m, {"value": 0, "unit": unit})
    missing = [m for m in wanted if m not in got or got[m]["value"] is None]
    if missing:
        fail(f"run reported no value for {', '.join(missing)}", 3)
    metrics = {m: got[m] for m in wanted}

    attempted = max(1, res["attempted"])
    failed = len(failed_ops)
    for m, v in metrics.items():
        print(f"{m}: {v['value']} {v['unit']}")
    print(f"failed_frac: {failed / attempted} ({failed} of {attempted} ops)")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
