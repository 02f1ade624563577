#!/usr/bin/env python3
"""Trace report: per-layer self time and counts of traced benchmark runs.

Usage: python3 perfbench/report.py [workload ...]

Reads perfbench/.work/<workload>/trace1/{run.json,spans.json}, written by
`perfbench/run.py --workload <workload> --trace 1`, and prints for each
workload:
  - per layer (span name), the self time per traced pass: the spans'
    duration minus the part of it their child spans cover;
  - per op, wall time split into build/action self time, Catalyst
    phases and Spark job time;
  - the per-layer counts of the run;
  - the tracing overhead: traced against untraced passes of the same run,
    and against the untraced run's pass_s when
    perfbench/.work/<workload>/trace0/run.json exists.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

import metrics

WORK = Path(__file__).resolve().parent / ".work"


def self_times(spans):
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    return {s["id"]: metrics.self_time(s, children[s["id"]]) for s in spans}


def report(workload):
    base = WORK / workload / "trace1"
    if not (base / "spans.json").exists():
        print(f"== {workload}: no traced run under {base}")
        return
    record = json.loads((base / "run.json").read_text())
    spans = json.loads((base / "spans.json").read_text())
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    n = max(1, len(traced))
    selfs = self_times(spans)
    print(f"== {workload}  seed {record['seed']}  {record['master']}  "
          f"traced passes {len(traced)}  untraced passes {len(untraced)}")

    print("\nself time per traced pass, by layer")
    by_layer = defaultdict(float)
    count = defaultdict(int)
    for s in spans:
        by_layer[s["name"]] += selfs[s["id"]]
        count[s["name"]] += 1
    for name in sorted(by_layer, key=lambda k: -by_layer[k]):
        print(f"  {name:24s} {by_layer[name] / n:9.3f} s   spans {count[name] / n:8.1f}")

    print("\nper op (seconds per traced pass): build and action self time, plan"
          " phases, and job time (concurrent jobs each count in full)")
    op_names = {s["id"]: s["attrs"]["op"] for s in spans if s["name"] == "op"}
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        r = rows[op_names[s["op_id"]]]
        if s["name"] == "op":
            r["wall"] += (s["end_ms"] - s["start_ms"]) / 1000.0
        elif s["name"] in ("queries.build", "exec.action"):
            r[s["name"].split(".")[1] + "_self"] += selfs[s["id"]]
        elif s["name"].startswith("plans."):
            r["plans"] += selfs[s["id"]]
        elif s["name"] == "spark.job":
            r["jobs"] += 1
            r["job_s"] += selfs[s["id"]]
    print(f"  {'op':22s} {'wall':>8s} {'build':>8s} {'action':>8s} {'plans':>8s}"
          f" {'job_s':>8s} {'jobs':>6s}")
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall"]):
        print(f"  {name:22s} {r['wall'] / n:8.3f} {r['build_self'] / n:8.3f}"
              f" {r['action_self'] / n:8.3f} {r['plans'] / n:8.3f} {r['job_s'] / n:8.3f}"
              f" {r['jobs'] / n:6.1f}")

    print("\nper-layer metrics of the run")
    values = metrics.per_layer(record, spans)
    for k, (v, unit) in values.items():
        print(f"  {k:28s} {v:14.4f} {unit}")

    t = statistics.median([metrics.pass_seconds(p) for p in traced]) if traced else 0.0
    print("\ntracing overhead")
    if untraced and t:
        u = statistics.median([metrics.pass_seconds(p) for p in untraced])
        print(f"  same run: traced pass {t:.3f} s vs untraced pass {u:.3f} s"
              f" -> {100 * (t / u - 1):+.1f}%")
    plain = WORK / workload / "trace0" / "run.json"
    if plain.exists() and t:
        u = metrics.end_to_end(json.loads(plain.read_text()))["pass_s"][0]
        print(f"  untraced run: pass_s {u:.3f} s -> {100 * (t / u - 1):+.1f}%")
    print()


def main(argv):
    workloads = argv
    if not workloads and WORK.exists():
        workloads = sorted(p.name for p in WORK.iterdir() if (p / "trace1").is_dir())
    if not workloads:
        print(f"no traced runs under {WORK}; run perfbench/run.py --trace 1 first")
        return 1
    for w in workloads:
        report(w)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
