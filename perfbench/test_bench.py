#!/usr/bin/env python3
"""The benchmark's own test, run from the repository root:

    python3 perfbench/test_bench.py

1. The seeded generators are deterministic: the same seed gives the same
   content digest, another seed another digest (live and backfill streams
   from the JVM generators, the contract events table from contract_data).
2. An injected wrong result counts as a failed operation: a run with
   --inject reports failed >= 1 and correct = false, per workload.
3. Outside a full checkout (only BENCHMARK.json and perfbench/), a run
   exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import contract_data  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("live_microbatch", "contract_slice", "backfill_history")


def gen_digests(cp, seed):
    work = os.path.join(os.getcwd(), ".bench_work", "gen-digest")
    try:
        out = subprocess.run(run.java_cmd(cp, work) + ["--gen-digest", str(seed)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                             cwd=work, check=True).stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
    d = dict(line.split("\t") for line in out.strip().splitlines())
    d["contract"] = contract_data.digest(seed)
    return d


def test_generators(cp):
    a, b, c = gen_digests(cp, 7), gen_digests(cp, 7), gen_digests(cp, 8)
    for k in a:
        assert a[k] == b[k], f"{k}: same seed, different digests {a[k]} {b[k]}"
        assert a[k] != c[k], f"{k}: different seeds, same digest {a[k]}"
    print(f"ok generators: {sorted(a)} deterministic per seed")


def test_injected_failure(workload):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "3", "--trace", "0", "--inject"],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["failed"] >= 1 and not res["correct"], res
    print(f"ok {workload}: injected wrong result counted, "
          f"failed share {res['failed']}/{res['attempted']}")


def test_bare_directory():
    bare = os.path.join(os.getcwd(), ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                            "--workload", "live_microbatch", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=180)
        assert r.returncode != 0 and '"correct"' not in r.stdout, (r.returncode, r.stdout)
        print(f"ok bare directory: exit {r.returncode}, {r.stderr.strip().splitlines()[-1]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    cp = build.build()
    test_generators(cp)
    test_bare_directory()
    for w in WORKLOADS:
        test_injected_failure(w)


if __name__ == "__main__":
    main()
