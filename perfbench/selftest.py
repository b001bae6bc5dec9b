#!/usr/bin/env python3
"""The benchmark's own tests: its output checks must be able to fail.

  1. A catalog run with one row dropped from one query's result must fail
     the oracle check and count that query's ops as failed.
  2. A dispatch run that replays a batch after resetting the state dir
     must break the exactly-once invariants and count the cycle as failed.
  3. In a directory holding only BENCHMARK.json and perfbench/, the
     benchmark must exit non-zero without printing a result.

Usage (from the root of a checkout): python3 perfbench/selftest.py
Takes about three minutes once the benchmark is built.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def injected(workload, inject):
    rc, out, err = bench(ROOT, "--workload", workload, "--seed", "7",
                         "--seconds", "5", "--trace", "0", "--inject", inject)
    assert rc == 0, err[-2000:]
    r = json.loads(out[-1])
    assert r["correct"] is False, r
    assert r["failed"] > 0 and r["failed"] <= r["attempted"], r
    assert "CHECK FAILED" in err, err[-2000:]
    print(f"ok: {workload} --inject {inject} -> failed {r['failed']}/{r['attempted']}")


def bare_directory():
    d = os.path.join(ROOT, ".bench_build", "perfbench", "selftest-bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    copy = os.path.join(d, "perfbench")
    shutil.copytree(HERE, copy, ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.rmtree(os.path.join(copy, "project", "project"), ignore_errors=True)
    rc, out, _ = bench(d, "--workload", "catalog", "--seed", "1",
                       "--seconds", "5", "--trace", "0")
    assert rc != 0 and not out, (rc, out)
    shutil.rmtree(d)
    print(f"ok: bare directory -> exit {rc}, no result")


if __name__ == "__main__":
    injected("catalog", "drop-row")
    injected("dispatch", "replay")
    bare_directory()
