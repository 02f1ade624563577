#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

Usage: python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:
  - an untraced and a traced run each exit 0, report correct results and
    emit exactly the end-to-end / per-layer metric names of
    BENCHMARK.json, each with its unit;
  - a run whose expected results are deliberately wrong (--corrupt)
    exits non-zero and reports failed ops.
Also checks that the order-insensitive digest ignores row and column
order but not values, and that the benchmark exits non-zero, without a
result, in a directory holding only BENCHMARK.json and the benchmark.
Exits non-zero on the first failed check.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import oracle
from run import DEFAULT_SF

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = str(Path(DEFAULT_SF).parent / "sf0.001")


def run(args, cwd=ROOT):
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)
    print(f"ok   {msg}")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}

    a = oracle.digest(["b", "a"], [(1, "x"), (2.0, "y")])
    check(a == oracle.digest(["a", "b"], [("y", 2), ("x", 1.0)]),
          "digest ignores row order, column order and int/float spelling")
    check(a != oracle.digest(["b", "a"], [(1, "x"), (3.0, "y")]),
          "digest sees a changed value")

    for w in spec["workloads"]:
        name = w["name"]
        for trace in (0, 1):
            rc, res, err = run(["--workload", name, "--seed", "7", "--seconds", "1",
                                "--trace", str(trace), "--sf", SF])
            check(rc == 0 and res is not None and res["correct"] and res["failed"] == 0,
                  f"{name} trace={trace} runs clean" + ("" if rc == 0 else f": {err[-2000:]}"))
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want[trace], f"{name} trace={trace} emits every metric with its unit")
        rc, res, _ = run(["--workload", name, "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--sf", SF, "--corrupt"])
        check(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
              f"{name}: the correctness check rejects a wrong expected result")

    bare = HERE / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    proc = subprocess.run(spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                             "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, capture_output=True, text=True, timeout=180)
    check(proc.returncode != 0 and not proc.stdout.strip(),
          "without graft's sources the benchmark exits non-zero and prints no result")
    shutil.rmtree(bare)


if __name__ == "__main__":
    main()
