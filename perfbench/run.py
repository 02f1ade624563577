#!/usr/bin/env python3
"""graft's repo benchmark.

Usage:
  python3 perfbench/run.py --workload curation|table_churn
                           --seed N --seconds S --trace 0|1
                           [--sf DIR] [--corrupt]

Builds the harness (graft's main sources plus perfbench/harness) from
source when its inputs changed, runs one JVM that sets up, warms up and
measures closed-loop passes over the workload's ops for --seconds, checks
every op's output, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Exits non-zero when any op failed or returned a wrong result.

The run record (run.json), the span file of a traced run (spans.json)
and the JVM log stay under perfbench/.work/<workload>/trace<0|1>/ for
perfbench/report.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import metrics
import oracle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
WORKLOADS = ("curation", "table_churn")
DEFAULT_SF = "/root/testdata/sf0.01"
# Time a run may take end to end, the first build excluded.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
# The heap starts small and grows with the driver's live set, so the peak
# resident set shows heap growth as well as off-heap memory. The
# throughput collector has no concurrent threads competing with the
# measured work.
JVM_HEAP = "3g"
# Only the C1 compiler. A run is too short for the C2 backlog to drain:
# with tiered compilation most of the measured pass's CPU time went to
# compiling, which competed with the measured work for the cores. With
# C1 only, set-up is shorter and the measured pass takes about as long.
JIT = "-XX:TieredStopAtLevel=1"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--sf", default=DEFAULT_SF,
                    help="directory of the read-only input parquet tables")
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb every expected result (self-test only)")
    return ap.parse_args(argv)


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())
    files += sorted((HARNESS / "src").rglob("*.scala"))
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    return files


def ensure_built():
    """Compile the harness when its inputs changed; return the classpath."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = HARNESS / "target" / "perfbench.stamp"
    cp_file = HARNESS / "target" / "perfbench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if repos.exists():
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("harness build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(h.hexdigest())
    return cp


def run_jvm(args, classpath, work, deadline):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", JIT,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", args.sf, "--work", str(work), "--cores", str(os.cpu_count())]
    if args.corrupt:
        cmd.append("--corrupt")
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run exceeded {RUN_LIMIT_S} s; see {work / 'jvm.log'}")
    if rc != 0 or not (work / "run.json").exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        sys.stderr.write(tail)
        fail(f"the harness exited with code {rc}")


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv):
    args = parse_args(argv)
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src'}")
    missing = [t for t in oracle.TABLES if not Path(args.sf, f"{t}.parquet").exists()]
    if missing:
        fail(f"input tables missing under {args.sf}: {', '.join(missing)}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    classpath = ensure_built()

    start = time.monotonic()
    work = HERE / ".work" / args.workload / f"trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    run_jvm(args, classpath, work, start + RUN_LIMIT_S - 5)
    record = json.loads((work / "run.json").read_text())

    checks = oracle.check_results(work / "results", record["oracles"], args.sf,
                                  HERE / ".work" / "oracle-cache", corrupt=args.corrupt)
    outcome = metrics.outcome(record, checks)
    record["commit"] = git_commit()
    record["oracle_checks"] = checks
    record["outcome"] = outcome
    if args.trace:
        spans = metrics.spans(record)
        (work / "spans.json").write_text(json.dumps(spans))
        values = metrics.per_layer(record, spans)
    else:
        values = metrics.end_to_end(record)
    for err in outcome["errors"][:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    summary = {
        "correct": outcome["failed"] == 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    record["wall_s"] = time.monotonic() - start
    (work / "run.json").write_text(json.dumps(record))
    print(json.dumps(summary))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
