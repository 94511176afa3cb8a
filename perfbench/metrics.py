"""Pure pieces of the benchmark: interval algebra, span self time, job
attribution, metric reduction and the result line. No I/O; specs in
``test_metrics.py``.
"""
import json
import math
import statistics

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "queries.construct_s": "s",
    "queries.eager_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.task_wait_s": "s",
    "scheduler.driver_idle_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.cpu_frac": "ratio",
    "executor.gc_s": "s",
    "executor.core_busy_frac": "ratio",
    "executor.stage_skew": "ratio",
    "scan.files": "count",
    "scan.bytes": "bytes",
    "scan.rows": "count",
    "scan.time_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "pipeline.prepare_s": "s",
    "pipeline.prepare_jobs": "count",
    "pipeline.evaluate_s": "s",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "streaming.add_batch_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.jobs_per_trigger": "count",
    "state.bytes": "bytes",
    "state.bytes_per_input_byte": "ratio",
    "state.files": "count",
    "state.rows": "count",
    "state.append_bytes_per_trigger": "bytes",
    "state.compact_s": "s",
    "state.bytes_rewritten": "bytes",
    "sink.files": "count",
    "jvm.heap_peak_mb": "MB",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "ratio",
}


def union_length(intervals, lo=None, hi=None):
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """``span id -> self time``: a span's duration minus the part of its
    interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) - union_length(
        children.get(s["id"], []), s["start_us"], s["end_us"]) for s in spans}


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def result_line(correct, attempted, failed, metrics, units):
    """The benchmark's last stdout line. ``metrics`` must hold exactly the
    names in ``units``, each a finite number."""
    missing = sorted(set(units) - set(metrics))
    extra = sorted(set(metrics) - set(units))
    if missing or extra:
        raise ValueError(f"metric names differ: missing {missing} extra {extra}")
    out = {}
    for name, unit in units.items():
        v = float(metrics[name])
        if not math.isfinite(v):
            raise ValueError(f"{name} is not finite: {v}")
        out[name] = {"value": v, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


def _op_spans(result, pass_ids):
    return [s for s in result["spans"]
            if s["kind"] == "op" and s["parent"] in pass_ids]


def end_to_end(result, manifest):
    """End-to-end metrics from the untraced timed passes of one run."""
    timed = [p for p in result["passes"] if p["kind"] == "timed" and not p["traced"]]
    if not timed:
        raise ValueError("no untraced timed pass")
    if result["workload"] == "ingest_gate":
        rows = median(p["docs"] for p in timed)
    else:
        rows = manifest["tables"]["lineitem"]["rows"]
    wall = median(pass_wall(result, p) for p in timed)
    return {
        "setup_s": result["setup_s"],
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "heap_live_mb": median(p["heap_live_mb"] for p in timed),
    }


def _in(t, span, slack_us=1000):
    return span["start_us"] - slack_us <= t <= span["end_us"] + slack_us


def attribute_jobs(ops, jobs):
    """``op span id -> [job]``: a job belongs to the op whose groups hold the
    job's group and whose interval holds the job's start. Jobs of no op
    (another session's, or the listener's own) are left out."""
    by_group = {}
    for op in ops:
        for g in op.get("groups", []):
            by_group.setdefault(g, []).append(op)
    out = {op["id"]: [] for op in ops}
    for j in jobs:
        for op in by_group.get(j["group"], []):
            if _in(j["start_us"], op):
                out[op["id"]].append(j)
                break
    return out


def _pass_layers(result, p, wall_s, cpus):
    pid = p["id"]
    state = result.get("state", {})
    ops = _op_spans(result, {pid})
    op_ids = {o["id"] for o in ops}
    phases = [s for s in result["spans"] if s["kind"] == "phase" and s["parent"] in op_ids]
    jobs_of = attribute_jobs(ops, result["jobs"])
    jobs = [j for js in jobs_of.values() for j in js]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in result["stages"] if s["job"] in job_ids]
    groups = {g for o in ops for g in o.get("groups", [])}
    plans = [x for x in result["plans"] if x["group"] in groups]
    run_ids = {o["groups"][1] for o in ops if len(o.get("groups", [])) > 1}
    progress = [x for x in result["progress"] if x["run_id"] in run_ids]
    triggers = [o for o in ops if o["name"].startswith("trigger_")]

    def phase_s(name):
        return sum(s["end_us"] - s["start_us"] for s in phases if s["name"] == name) / 1e6

    def phase_jobs(name):
        n = 0
        for s in phases:
            if s["name"] == name:
                n += sum(1 for j in jobs_of.get(s["parent"], []) if _in(j["start_us"], s, 0))
        return n

    def stage_sum(k):
        return sum(s[k] for s in stages)

    def progress_s(k):
        if not progress:
            return 0.0
        return sum(x["duration_ms"].get(k, 0) for x in progress) / len(progress) / 1000.0

    idle = 0
    for o in ops:
        spans = [(j["start_us"], j["end_us"]) for j in jobs_of[o["id"]] if j["end_us"] > 0]
        idle += (o["end_us"] - o["start_us"]) - union_length(spans, o["start_us"], o["end_us"])
    skew = 0.0
    for s in stages:
        if len(s["task_run_ms"]) >= 2:
            med = statistics.median(s["task_run_ms"])
            if med > 0:
                skew = max(skew, max(s["task_run_ms"]) / med)
    run_s = stage_sum("run_ms") / 1000.0
    cpu_s = stage_sum("cpu_ns") / 1e9
    return {
        "queries.construct_s": phase_s("queries.construct"),
        "queries.eager_jobs": phase_jobs("queries.construct"),
        "catalyst.analysis_s": sum(x["analysis_ms"] for x in plans) / 1000.0,
        "catalyst.optimization_s": sum(x["optimization_ms"] for x in plans) / 1000.0,
        "catalyst.planning_s": sum(x["planning_ms"] for x in plans) / 1000.0,
        "catalyst.plan_nodes": sum(x["nodes"] for x in plans),
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": stage_sum("tasks"),
        "scheduler.task_wait_s": stage_sum("wait_ms") / 1000.0,
        "scheduler.driver_idle_s": idle / 1e6,
        "executor.run_s": run_s,
        "executor.cpu_s": cpu_s,
        "executor.cpu_frac": cpu_s / run_s if run_s else 0.0,
        "executor.gc_s": stage_sum("gc_ms") / 1000.0,
        "executor.core_busy_frac": run_s / (wall_s * cpus) if wall_s else 0.0,
        "executor.stage_skew": skew,
        "scan.files": sum(x["scan_files"] for x in plans),
        "scan.bytes": sum(x["scan_bytes"] for x in plans),
        "scan.rows": sum(x["scan_rows"] for x in plans),
        "scan.time_s": sum(x["scan_time_ms"] for x in plans) / 1000.0,
        "shuffle.write_bytes": stage_sum("shuffle_write_bytes"),
        "shuffle.read_bytes": stage_sum("shuffle_read_bytes"),
        "shuffle.records": stage_sum("shuffle_records"),
        "shuffle.fetch_wait_s": stage_sum("fetch_wait_ms") / 1000.0,
        "spill.bytes": stage_sum("spill_bytes"),
        "pipeline.prepare_s": phase_s("pipeline.prepare"),
        "pipeline.prepare_jobs": phase_jobs("pipeline.prepare"),
        "pipeline.evaluate_s": phase_s("pipeline.evaluate") + phase_s("pipeline.action"),
        "ml.fit_s": phase_s("ml.fit"),
        "ml.fit_jobs": phase_jobs("ml.fit"),
        "streaming.add_batch_s": progress_s("addBatch"),
        "streaming.get_batch_s": progress_s("getBatch"),
        "streaming.query_planning_s": progress_s("queryPlanning"),
        "streaming.wal_commit_s": progress_s("walCommit"),
        "streaming.commit_offsets_s": progress_s("commitOffsets"),
        "streaming.jobs_per_trigger": (sum(len(jobs_of[o["id"]]) for o in triggers)
                                       / len(triggers)) if triggers else 0.0,
        "state.bytes": state.get("bytes", 0),
        "state.bytes_per_input_byte": state.get("bytes_per_input_byte", 0.0),
        "state.files": state.get("files", 0),
        "state.rows": state.get("rows", 0),
        "state.append_bytes_per_trigger": state.get("append_bytes_per_trigger", 0.0),
        "state.compact_s": state.get("compact_s", 0.0),
        "state.bytes_rewritten": state.get("bytes_rewritten", 0),
        "sink.files": state.get("sink_files", 0),
        "jvm.heap_peak_mb": p["heap_peak_mb"],
        "jvm.gc_s": p["gc_s"],
    }


def pass_wall(result, p):
    s = next(s for s in result["spans"] if s["id"] == p["id"])
    return (s["end_us"] - s["start_us"]) / 1e6


def per_layer(result):
    """Per-layer metrics: the median over traced passes of each pass total,
    plus the tracing overhead against the run's untraced passes."""
    traced = [p for p in result["passes"] if p["kind"] == "timed" and p["traced"]]
    plain = [p for p in result["passes"] if p["kind"] == "timed" and not p["traced"]]
    if not traced or not plain:
        raise ValueError("a traced run needs untraced and traced timed passes")
    rows = [_pass_layers(result, p, pass_wall(result, p), result["cpus"]) for p in traced]
    out = {k: median(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_frac"] = (median(pass_wall(result, p) for p in traced)
                                  / median(pass_wall(result, p) for p in plain) - 1.0)
    return out


def breakdown(result):
    """Per-op rows of the traced passes for the trace report: wall and self
    time of each op and phase, where a phase's children are the jobs that
    started inside it, so its self time is driver time outside any job."""
    traced = {p["id"] for p in result["passes"] if p["traced"]}
    ops = _op_spans(result, traced)
    jobs_of = attribute_jobs(ops, result["jobs"])
    kids = {}
    for s in result["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    spans = list(result["spans"])
    job_parent = {}
    for o in ops:
        for j in jobs_of[o["id"]]:
            parent = next((k["id"] for k in kids.get(o["id"], [])
                           if _in(j["start_us"], k, 0)), o["id"])
            job_parent[j["id"]] = parent
            spans.append({"id": ("job", j["id"]), "parent": parent,
                          "start_us": j["start_us"],
                          "end_us": max(j["end_us"], j["start_us"])})
    own = self_times(spans)
    rows = []
    for o in ops:
        rows.append({
            "pass": o["parent"], "op": o["name"], "batch": o.get("batch"),
            "wall_s": (o["end_us"] - o["start_us"]) / 1e6,
            "self_s": own[o["id"]] / 1e6,
            "jobs": len(jobs_of[o["id"]]),
            "phases": {k["name"]: {
                "wall_s": (k["end_us"] - k["start_us"]) / 1e6,
                "self_s": own[k["id"]] / 1e6,
                "jobs": sum(1 for p in job_parent.values() if p == k["id"])}
                for k in kids.get(o["id"], [])},
            "error": o.get("error"),
        })
    return rows
