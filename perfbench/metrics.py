"""Metrics from a harness run record (run.json).

End-to-end metrics come from untraced passes. Per-layer metrics come
from traced passes: the listener events are attributed to ops by time
window and turned into spans (op > queries.build | exec.action >
plans.* | spark.job), then summed per pass; each metric is the median
over the traced passes.
"""
import math
import statistics

EXT_MODULES = ("Dedup", "Similarity", "Retrieval", "TextAnalysis", "GraphRank", "Ivm")
LAYOUT_KINDS = ("write", "dml", "optimize", "read")


def _dur(op):
    return (op["end_ms"] - op["start_ms"]) / 1000.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _passes(record, traced):
    return [p for p in record["passes"] if p["traced"] == traced]


def outcome(record, checks):
    """Ops attempted and failed, counting wrong results as failures."""
    attempted, errors = 0, []
    for p in [record["warmup"]] + record["passes"]:
        for op in p["ops"]:
            attempted += 1
            err = op["error"] or op["check_error"]
            if err is None and p["index"] == 0 and op["name"] in checks:
                err = checks[op["name"]]["error"]
            if err is not None:
                errors.append(f"pass {p['index']} {op['name']}: {err}")
    if record["workload"] == "table_churn":
        attempted += 1
        if record["final_check_error"] is not None:
            errors.append(f"final table check: {record['final_check_error']}")
    return {"attempted": attempted, "failed": len(errors), "errors": errors}


def op_medians(passes):
    """Median latency per op name, and each name's kind."""
    by_name, kinds = {}, {}
    for p in passes:
        for op in p["ops"]:
            by_name.setdefault(op["name"], []).append(_dur(op))
            kinds[op["name"]] = op["kind"]
    return {n: _median(v) for n, v in by_name.items()}, kinds


def pass_seconds(p):
    return sum(_dur(op) for op in p["ops"])


def end_to_end(record):
    passes = _passes(record, False)
    medians, kinds = op_medians(passes)
    return {
        "setup_s": (record["setup_s"], "s"),
        "pass_s": (_median([pass_seconds(p) for p in passes]), "s"),
        "read_geomean_s": (_geomean([m for n, m in medians.items() if kinds[n] == "read"]), "s"),
        "op_max_s": (max(medians.values()), "s"),
        "cpu_s": (_median([sum(op["cpu_s"] for op in p["ops"]) for p in passes]), "s"),
        "peak_rss_mb": (record["peak_rss_mb"], "MB"),
    }


def _inside(t, op):
    return op["start_ms"] <= t <= op["end_ms"]


def spans(record):
    """Spans of every traced pass. All spans of one op share its op_id."""
    events = record.get("trace_events") or {}
    jobs = events.get("jobs", [])
    queries = events.get("queries", [])
    out = []
    for p in _passes(record, True):
        for op in p["ops"]:
            oid = op["id"]
            attrs = {"pass": p["index"], "op": op["name"], "module": op["module"],
                     "kind": op["kind"], "files_live": op["files_live"],
                     "rounds": op["rounds"]}
            out.append(dict(op_id=oid, id=oid, parent=None, name="op",
                            start_ms=op["start_ms"], end_ms=op["end_ms"], attrs=attrs))
            build = dict(op_id=oid, id=oid + "/build", parent=oid, name="queries.build",
                         start_ms=op["start_ms"], end_ms=op["built_ms"], attrs={})
            action = dict(op_id=oid, id=oid + "/action", parent=oid, name="exec.action",
                          start_ms=op["built_ms"], end_ms=op["end_ms"], attrs={})
            out += [build, action]

            def parent_of(t):
                return build["id"] if t < op["built_ms"] else action["id"]
            for j in jobs:
                # listener times are whole milliseconds; take the midpoint
                t = j["start_ms"] + 0.5
                if _inside(t, op):
                    end = j["end_ms"] if j["end_ms"] >= 0 else op["end_ms"]
                    out.append(dict(op_id=oid, id=f"{oid}/job{j['id']}", parent=parent_of(t),
                                    name="spark.job", start_ms=j["start_ms"], end_ms=end,
                                    attrs={k: v for k, v in j.items()
                                           if k not in ("start_ms", "end_ms")}))
            # the op's own result frame was analyzed when it was built;
            # that phase has no listener event of its own
            for ph in op["frame_phases"]:
                out.append(dict(op_id=oid, id=f"{oid}/frame/{ph['name']}",
                                parent=parent_of(ph["start_ms"] + 0.5),
                                name=f"plans.{ph['name']}", start_ms=ph["start_ms"],
                                end_ms=ph["end_ms"], attrs={}))
            for qi, q in enumerate(queries):
                starts = [ph["start_ms"] for ph in q["phases"]]
                if not starts or not _inside(min(starts) + 0.5, op):
                    continue
                for ph in q["phases"]:
                    t = ph["start_ms"] + 0.5
                    out.append(dict(op_id=oid, id=f"{oid}/q{qi}/{ph['name']}",
                                    parent=parent_of(t), name=f"plans.{ph['name']}",
                                    start_ms=ph["start_ms"], end_ms=ph["end_ms"],
                                    attrs={"files_read": q["files_read"]}
                                    if ph["name"] == "analysis" else {}))
    return out


def _union(intervals):
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur:
        total += cur[1] - cur[0]
    return total


def _overlap(intervals):
    """Time covered by two or more intervals."""
    edges = sorted([(s, 1) for s, e in intervals] + [(e, -1) for s, e in intervals])
    total, depth, last = 0.0, 0, None
    for t, d in edges:
        if depth >= 2:
            total += t - last
        depth += d
        last = t
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_ms"], span["end_ms"]
    covered = _union([(max(s, c["start_ms"]), min(e, c["end_ms"])) for c in children
                      if c["end_ms"] > s and c["start_ms"] < e])
    return (e - s - covered) / 1000.0


def per_pass_layers(p, pass_spans):
    """Per-layer values of one traced pass."""
    ops = {s["op_id"]: s for s in pass_spans if s["name"] == "op"}
    jobs = [s for s in pass_spans if s["name"] == "spark.job"]
    v = {}

    def add(k, x):
        v[k] = v.get(k, 0) + x
    for s in pass_spans:
        dur = (s["end_ms"] - s["start_ms"]) / 1000.0
        if s["name"] in ("queries.build", "exec.action"):
            add(s["name"] + "_s", dur)
        elif s["name"].startswith("plans."):
            add(s["name"] + "_s", dur)
            add("sources.files_read", s["attrs"].get("files_read", 0))
    for j in jobs:
        a = j["attrs"]
        add("spark.jobs", 1)
        add("spark.stages", a["stages"])
        add("spark.tasks", a["tasks"])
        add("spark.task_failures", a["task_failures"])
        add("sources.bytes_read", a["bytes_read"])
        add("sources.rows_read", a["rows_read"])
        add("spark.shuffle_write_bytes", a["shuffle_write_bytes"])
        add("spark.shuffle_read_bytes", a["shuffle_read_bytes"])
        add("spark.spill_bytes", a["spill_bytes"])
        add("spark.result_bytes", a["result_bytes"])
        add("spark.executor_run_s", a["executor_run_ms"] / 1000.0)
        add("spark.executor_cpu_s", a["executor_cpu_ns"] / 1e9)
        add("spark.gc_s", a["gc_ms"] / 1000.0)
        if ops[j["op_id"]]["attrs"]["module"].startswith("Layout."):
            add("ext.Layout.bytes_written", a["bytes_written"])
    pruned = []
    for oid, op in ops.items():
        mine = [(max(op["start_ms"], j["start_ms"]), min(op["end_ms"], j["end_ms"]))
                for j in jobs if j["op_id"] == oid]
        dur = (op["end_ms"] - op["start_ms"]) / 1000.0
        add("driver.idle_s", dur - _union(mine) / 1000.0)
        add("driver.overlap_s", _overlap(mine) / 1000.0)
        module = op["attrs"]["module"]
        if module in EXT_MODULES:
            add(f"ext.{module}.s", dur)
        if op["attrs"]["rounds"] is not None:
            add(f"ext.{module}.rounds", op["attrs"]["rounds"])
        if module.startswith("Layout."):
            add(f"ext.Layout.{module.split('.', 1)[1]}_s", dur)
        live = op["attrs"]["files_live"]
        if module == "Layout.read" and live:
            files = sum(s["attrs"].get("files_read", 0) for s in pass_spans
                        if s["op_id"] == oid and s["name"] == "plans.analysis")
            pruned.append(1.0 - files / live)
    v["sources.files_pruned_frac"] = sum(pruned) / len(pruned) if pruned else 0.0
    v["ext.Layout.files_live"] = p["files_live_end"] or 0
    v["host.steal_ticks"] = p["steal_ticks"]
    return v


# name -> unit, in report order
PER_LAYER = {
    "queries.build_s": "s", "exec.action_s": "s",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "sources.files_read": "count", "sources.bytes_read": "bytes",
    "sources.rows_read": "count", "sources.files_pruned_frac": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "driver.idle_s": "s", "driver.overlap_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.result_bytes": "bytes",
    **{f"ext.{m}.s": "s" for m in EXT_MODULES}, "ext.GraphRank.rounds": "count",
    **{f"ext.Layout.{k}_s": "s" for k in LAYOUT_KINDS},
    "ext.Layout.bytes_written": "bytes", "ext.Layout.files_live": "count",
    "write_geomean_s": "s", "bytes_per_live_byte": "ratio",
    "spark.task_failures": "count", "host.steal_ticks": "count",
    "trace.overhead_frac": "ratio", "passes": "count",
}


def per_layer(record, all_spans):
    traced = _passes(record, True)
    per_pass = [per_pass_layers(p, [s for s in all_spans
                                    if s["op_id"].split(".")[0] == str(p["index"])])
                for p in traced]
    untraced = _passes(record, False)
    medians, kinds = op_medians(untraced)
    t_pass = _median([pass_seconds(p) for p in traced])
    u_pass = _median([pass_seconds(p) for p in untraced])
    extra = {
        "write_geomean_s": _geomean([m for n, m in medians.items() if kinds[n] == "commit"]),
        "bytes_per_live_byte": record["bytes_per_live_byte"] or 0.0,
        "trace.overhead_frac": t_pass / u_pass - 1.0 if u_pass else 0.0,
        "passes": len(record["passes"]),
    }
    out = {}
    for name, unit in PER_LAYER.items():
        if name in extra:
            val = extra[name]
        else:
            val = _median([pp.get(name, 0) for pp in per_pass])
        out[name] = (val, unit)
    return out
