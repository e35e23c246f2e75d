"""Metric definitions of the benchmark, computed from the harness's raw
record (`raw.json`, written by `graft.perfbench.Main`).

End-to-end metrics come from an untraced run, per-layer metrics from a
traced run. Per-layer counters are normalised per traced sweep (one
pass over the workload's query list) so that they do not depend on how
many sweeps fit into the run.
"""
import math
import statistics

END_TO_END = [
    ("setup_s", "s"),
    ("session_wall_s", "s"),
    ("sweep_s", "s"),
    ("query_p50_s", "s"),
    ("query_p90_s", "s"),
]

# Per-layer metrics; memo.warm_s.<group> and ops.<Module>.s follow from
# the fixpoint groups and modules the harness lists in raw.json.
LAYER_HEAD = [
    ("Tables.first_read_s", "s"), ("Tables.scan_mb", "MB"),
    ("Tables.scan_rows", "count"),
    ("SparkEntry.build_s", "s"), ("SparkEntry.job_running_builds", "count"),
    ("catalyst.analyze_s", "s"), ("catalyst.optimize_s", "s"),
    ("catalyst.physical_s", "s")]
LAYER_BODY = (
    [("memo.persisted_rdds", "count"), ("memo.builds_in_run", "count"),
       ("memo.evictions_in_run", "count"), ("storage_mb", "MB"),
       ("exec.jobs", "count"), ("exec.stages", "count"),
       ("exec.tasks", "count"), ("exec.task_run_s", "s"),
       ("exec.task_cpu_s", "s"), ("exec.shuffle_write_mb", "MB"),
       ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
       ("exec.driver_gap_s", "s"), ("exec.busy_frac", "ratio"),
       ("exec.failed_tasks", "count"),
       ("stream.batches", "count"), ("stream.empty_batches", "count"),
       ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
       ("stream.planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
       ("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
       ("stream.checkpoint_files", "count"),
       ("sink.rows_out", "count")])
LAYER_TAIL = [("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
              ("trace.overhead_frac", "ratio")]


def per_layer_units(raw):
    """(name, unit) of every per-layer metric, in print order."""
    return (LAYER_HEAD
            + [(f"memo.warm_s.{g}", "s") for g in raw["fixpoint_groups"]]
            + LAYER_BODY
            + [(f"ops.{m}.s", "s") for m in raw["modules"]]
            + LAYER_TAIL)

MB = 1e6


def percentile(values, p):
    """p-th percentile (0..100) with linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest whole percentile with at least ten of n samples beyond it
    (None when n < 11: no percentile has ten samples above it)."""
    if n < 11:
        return None
    return math.floor(100 * (n - 10) / n)


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end] intervals, each first
    clipped to [lo, hi] when those are given."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start, end, job_intervals):
    """Query wall time not covered by any of its jobs (same time unit)."""
    return (end - start) - union_length(job_intervals, start, end)


def problems(raw):
    """Why a run's figures do not meet the sample rules (empty if they
    do): at least min_samples query executions and min_warm_sweeps
    sweeps in the measured session, reached before the harness's
    limit."""
    out = []
    if raw["forced_stop"]:
        out.append("measuring was stopped at the harness's time limit")
    if len(raw["samples"]) < raw["min_samples"]:
        out.append(f"{len(raw['samples'])} query executions, "
                   f"fewer than {raw['min_samples']}")
    if raw["warm_sweeps"] < raw["min_warm_sweeps"]:
        out.append(f"{raw['warm_sweeps']} warm sweeps, "
                   f"fewer than {raw['min_warm_sweeps']}")
    return out


def failure_count(samples, failed_ids):
    """Executions that threw, plus every execution of an id whose output
    failed the oracle check. Returns (failed, attempted, failing ids)."""
    bad = set(failed_ids)
    failed = [s for s in samples if not s["ok"] or s["q"] in bad]
    return len(failed), len(samples), sorted({s["q"] for s in failed} | bad)


def end_to_end(raw):
    """setup_s is the median over the run's set-ups; session_wall_s is
    the first session's set-up plus its sweep; sweep_s is the median
    over the measured session's sweeps."""
    walls = [s["wall_s"] for s in raw["samples"]]
    first = next(s["wall_s"] for s in raw["sweeps"] if s["first"])
    return {
        "setup_s": statistics.median(s["setup_s"] for s in raw["setups"]),
        "session_wall_s": raw["setups"][0]["setup_s"] + first,
        "sweep_s": statistics.median(s["wall_s"] for s in raw["sweeps"]
                                     if not s["first"]),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": percentile(walls, 90),
    }


def _span_of(parent):
    """'<query span>:<phase>' -> (query span, phase); setup jobs -> None."""
    if not parent or parent.startswith("setup:"):
        return None
    q, _, phase = parent.partition(":")
    return int(q), phase


def per_layer(raw, rows_out):
    """Per-layer metrics of a traced run; rows_out is the number of rows
    one pass over the query list delivers (from the output check)."""
    tr = raw["trace_records"]
    traced = [s for s in raw["sweeps"] if s["traced"]]
    # the measured session's untraced sweeps; the first session's sweep
    # is not alternated with a traced one
    untraced = [s for s in raw["sweeps"]
                if not s["traced"] and not s["first"]]
    n = max(1, len(traced))
    traced_ids = {s["span"] for s in traced}
    samples = [s for s in raw["samples"] if s["sweep"] in traced_ids]
    q_by_span = {s["span"]: s for s in samples}

    jobs = [j for j in tr["jobs"]
            if (_span_of(j["parent"]) or (None,))[0] in q_by_span]
    job_ids = {j["job"] for j in jobs}
    stages = [st for st in tr["stages"] if st["job"] in job_ids]
    windows = [(s["start_ms"], s["end_ms"]) for s in samples]

    def in_sweep(t):
        return any(a <= t <= b for a, b in windows)

    plans = [p for p in tr["plans"] if in_sweep(p["end_ms"])]
    progress = [p for p in tr["progress"] if in_sweep(p["at_ms"])]

    jobs_of = {}
    for j in jobs:
        span, _ = _span_of(j["parent"])
        jobs_of.setdefault(span, []).append((j["start_ms"], j["end_ms"]))
    gap_ms = sum(driver_gap(s["start_ms"], s["end_ms"], jobs_of.get(s["span"], []))
                 for s in samples)
    build_jobs = {_span_of(j["parent"])[0] for j in jobs
                  if _span_of(j["parent"])[1] == "build"}

    def tot(rows, key):
        return sum(r[key] for r in rows)

    measured = raw["setups"][-1]
    phases = {(p["kind"], p["name"]): p["s"] for p in measured["phases"]}
    probe = raw["probe"] or [{}]
    traced_wall = sum(s["wall_s"] for s in traced)
    last = {}
    for p in progress:
        last[p["run"]] = p

    m = {
        "Tables.first_read_s": sum(v for (k, _), v in phases.items()
                                   if k == "table"),
        "Tables.scan_mb": tot(stages, "input_b") / MB / n,
        "Tables.scan_rows": tot(stages, "input_rows") / n,
        "SparkEntry.build_s": tot(samples, "build_s") / n,
        "SparkEntry.job_running_builds": len(build_jobs) / n,
        "catalyst.analyze_s": tot(plans, "analyze_ms") / 1e3 / n,
        "catalyst.optimize_s": tot(plans, "optimize_ms") / 1e3 / n,
        "catalyst.physical_s": tot(plans, "physical_ms") / 1e3 / n,
        "memo.persisted_rdds": measured["persisted_rdds"],
        "memo.builds_in_run": tot(samples, "rdds_built") / n,
        "memo.evictions_in_run": tot(samples, "rdds_dropped") / n,
        "storage_mb": max([measured["storage_b"]]
                          + [p.get("storage_peak_b", 0) for p in probe]) / MB,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": tot(stages, "tasks") / n,
        "exec.task_run_s": tot(stages, "task_run_s") / n,
        "exec.task_cpu_s": tot(stages, "task_cpu_s") / n,
        "exec.shuffle_write_mb": tot(stages, "shuffle_write_b") / MB / n,
        "exec.shuffle_read_mb": tot(stages, "shuffle_read_b") / MB / n,
        "exec.spill_mb": tot(stages, "spill_b") / MB / n,
        "exec.driver_gap_s": gap_ms / 1e3 / n,
        "exec.busy_frac": (tot(stages, "task_run_s")
                           / max(1e-9, traced_wall * raw["cores"])),
        "exec.failed_tasks": tot(stages, "failed_tasks") / n,
        "stream.batches": len(progress) / n,
        "stream.empty_batches": sum(1 for p in progress
                                    if p["input_rows"] == 0) / n,
        "stream.trigger_ms": tot(progress, "trigger_ms") / n,
        "stream.add_batch_ms": tot(progress, "add_batch_ms") / n,
        "stream.planning_ms": tot(progress, "planning_ms") / n,
        "stream.wal_commit_ms": tot(progress, "wal_commit_ms") / n,
        "stream.state_rows": tot(last.values(), "state_rows") / n,
        "stream.state_mem_mb": tot(last.values(), "state_mem_b") / MB / n,
        "stream.checkpoint_files": statistics.mean(
            p.get("checkpoint_files", 0) for p in probe),
        "jvm.gc_s": statistics.mean(p.get("gc_s", 0) for p in probe),
        "jvm.heap_peak_mb": max(p.get("heap_peak_b", 0) for p in probe) / MB,
        "trace.overhead_frac": (statistics.median(s["wall_s"] for s in traced)
                                / statistics.median(s["wall_s"]
                                                    for s in untraced)
                                - 1.0),
    }
    m["sink.rows_out"] = rows_out
    for g in raw["fixpoint_groups"]:
        m[f"memo.warm_s.{g}"] = phases.get(("warm", g), 0.0)
    n_untraced = max(1, len(untraced))
    untraced_ids = {s["span"] for s in untraced}
    for mod in raw["modules"]:
        m[f"ops.{mod}.s"] = sum(s["wall_s"] for s in raw["samples"]
                                if s["module"] == mod
                                and s["sweep"] in untraced_ids) / n_untraced
    return m


def spans(raw, workload):
    """The traced run as a span list: workload > setup phases, and
    workload > sweep > query > build / execute > job > stage."""
    out = [{"id": "w", "parent": None, "kind": "workload", "name": workload}]
    for p in raw["setups"][-1]["phases"]:
        out.append({"id": f"setup:{p['name']}", "parent": "w",
                    "kind": "setup", "name": p["name"], "dur_s": p["s"]})
    for s in raw["sweeps"]:
        out.append({"id": f"sweep:{s['span']}", "parent": "w",
                    "kind": "sweep", "traced": s["traced"],
                    "start_ms": s["start_ms"], "dur_s": s["wall_s"]})
    for s in raw["samples"]:
        q = f"q:{s['span']}"
        out.append({"id": q, "parent": f"sweep:{s['sweep']}", "kind": "query",
                    "name": s["q"], "module": s["module"],
                    "start_ms": s["start_ms"], "end_ms": s["end_ms"],
                    "ok": s["ok"], "error": s["error"]})
        out.append({"id": f"{q}:build", "parent": q, "kind": "build",
                    "dur_s": s["build_s"]})
        out.append({"id": f"{q}:execute", "parent": q, "kind": "execute",
                    "dur_s": s["exec_s"]})
    tr = raw["trace_records"] or {}
    for j in tr.get("jobs", []):
        par = j["parent"]
        parent = (f"q:{par}" if par and not par.startswith("setup:")
                  else par or "w")
        out.append({"id": f"job:{j['job']}", "parent": parent, "kind": "job",
                    "start_ms": j["start_ms"], "end_ms": j["end_ms"],
                    "ok": j["ok"]})
    for st in tr.get("stages", []):
        out.append(dict(st, id=f"stage:{st['stage']}.{st['attempt']}",
                        parent=f"job:{st['job']}", kind="stage"))
    return out
