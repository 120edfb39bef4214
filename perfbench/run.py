#!/usr/bin/env python3
"""Runs one benchmark run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark (perfbench/build.py), makes the
workload's inputs from the seed, runs the workload in one JVM, checks its
outputs, and prints as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import contract_data  # noqa: E402

WORKLOADS = ("live_microbatch", "backfill_history", "contract_slice")
RUN_LIMIT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(cp, work):
    """The JVM command line up to the main class; scratch files stay in work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms1g", "-Xmx3g", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           f"-XX:ActiveProcessorCount={cores()}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def jvm(cp, work, main_args, limit_s):
    cmd = java_cmd(cp, work) + main_args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail + "\n")
        fail("the benchmark JVM timed out" if code is None
             else f"the benchmark JVM exited with code {code}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", action="store_true",
                    help="corrupt one result on purpose (the benchmark's own test)")
    a = ap.parse_args()
    t_start = time.monotonic()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found; run from the repository root")
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build.build()
    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        pre_setup_s = 0.0
        main_args = ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--out", os.path.join(work, "result.json")]
        if a.workload == "contract_slice":
            t0 = time.monotonic()
            data = os.path.join(work, "data")
            contract_data.write_events(data, a.seed)
            pre_setup_s = time.monotonic() - t0
            main_args += ["--data", data]
        if a.inject:
            main_args.append("--inject")
        jvm(cp, work, main_args, RUN_LIMIT_S - (time.monotonic() - t_start))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failed, attempted = res["failed"], res["attempted"]
        failures = list(res["failures"])
        wrong = {}
        if a.workload == "contract_slice":
            wrong = contract_data.oracle_mismatches(data, os.path.join(work, "dump"))
            for q, why in wrong.items():
                # every timed run of q reproduced the dumped (wrong) result
                failed += res["details"]["runs"].get(q, 0)
                failures.append(f"{q}: oracle mismatch: {why}")
            failed = min(failed, attempted)
        metrics = res["metrics"]
        if "setup_s" in metrics:
            metrics["setup_s"]["value"] += pre_setup_s
        if "setup.generate_s" in metrics:
            metrics["setup.generate_s"]["value"] += pre_setup_s
        missing = [m for m in want if m not in metrics]
        if missing:
            fail(f"metrics not produced: {missing}")
        correct = failed == 0 and not res["warm_errors"] and not wrong
        info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "failed_share": failed / max(1, attempted),
                "warm_errors": res["warm_errors"], "failures": failures[:20],
                "setup_phases_s": res["setup_phases_s"],
                "peak_rss_mb": res["peak_rss_mb"], "details": res["details"]}
        print("perfbench " + json.dumps(info, sort_keys=False))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed,
                          "metrics": {m: metrics[m] for m in want}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
