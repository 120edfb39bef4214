#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per workload and metric,
the median and the spread: the distance between the first and third
quartiles (statistics.quantiles, n=4) as a share of the median, beside the
metric's bound. With --trace-too it also makes a traced run per seed and
reports the tracing overhead on op_mean_s (traced / untraced - 1).

    python3 perfbench/spread.py --workload live_microbatch --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(s):
    if "-" in s:
        a, b = s.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in s.split(",")]


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2][len("perfbench "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-5"))
    ap.add_argument("--trace-too", action="store_true")
    ap.add_argument("--log", default=None, help="append every result line here")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    for w in a.workload:
        values = {m: [] for m in bounds}
        overhead = []
        for seed in a.seeds:
            res, info = run(w, seed, seconds, 0)
            line = {"workload": w, "seed": seed, "trace": 0, **res,
                    "details": {k: info["details"].get(k) for k in
                                ("p50_s", "tail_s", "tail_percentile", "n", "p50_by_query_s",
                                 "loop_gc_s", "loop_jit_s")}}
            print(json.dumps(line), flush=True)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(line) + "\n")
            if not res["correct"]:
                print(f"INCORRECT: {info['failures']} {info['warm_errors']}", flush=True)
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            if a.trace_too:
                tres, _ = run(w, seed, seconds, 1)
                traced = tres["metrics"]["traced.op_mean_s"]["value"]
                overhead.append(traced / res["metrics"]["op_mean_s"]["value"] - 1)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps({"workload": w, "seed": seed, "trace": 1, **tres}) + "\n")
        print(f"== {w} ({len(a.seeds)} seeds)")
        for m, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            print(f"  {m:14s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[m]}"
                  f"{'  OVER' if spread > bounds[m] / 3 else ''}")
        if overhead:
            print(f"  tracing overhead on op_mean_s: median {statistics.median(overhead):+.3f} "
                  f"(per seed {', '.join(f'{x:+.3f}' for x in overhead)})")


if __name__ == "__main__":
    main()
