"""Pure functions the harness reports through: the tail-percentile rule,
span self time, and the per-layer metrics of a traced pass."""
import math


def nearest_rank(samples, p):
    """The p-th percentile (0 < p < 100) by nearest rank."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, grid=(50, 75, 80, 90, 95, 99, 99.9)):
    """The highest percentile on `grid` that has at least ten of n
    samples beyond it, or None when even the median has fewer."""
    ok = [p for p in grid if beyond(n, p) >= 10]
    return max(ok) if ok else None


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once).

    spans: iterable of dicts with id, parent, start, end.
    Returns {span id: self time}, in the spans' time unit."""
    spans = list(spans)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for a, b in sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                           for c in children.get(s["id"], [])):
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def peak_concurrency(intervals):
    """Most intervals (start, end) open at the same instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda e: (e[0], e[1]))
    peak = cur = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak


MB = 1048576.0
SCHEMA_STAGE = "parquet at Tables.scala"

# per-layer metric -> unit; every traced op reports each of them
LAYER_UNITS = {
    "sources.schema_jobs": "count",
    "construct.ms": "ms", "construct.jobs": "count",
    "barrier.pins": "count", "barrier.pinned_mb": "MB", "barrier.reclaim_ms": "ms",
    "plan.ms": "ms", "plan.actions": "count",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.core_util": "ratio", "exec.ms_per_job": "ms",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
    "runner.ms": "ms", "runner.peak_jobs": "count", "checks.ms": "ms",
    "merge.ms": "ms", "merge.bytes_written_mb": "MB", "merge.files_written": "count",
    "merge.write_amp": "ratio", "readback.ms": "ms",
    "driver.gc_ms": "ms", "count.ms": "ms", "op.self_ms": "ms",
}


def op_layers(op, spans, jobs, tasks, actions, cores):
    """Per-layer metrics of one traced op.

    op: the op record; spans: its spans (dicts with id, parent, layer,
    start, end in ns); jobs: its job records; tasks: its per-layer task
    totals; actions: its query-execution actions."""
    ms = lambda ns: ns / 1e6
    by_layer = {}
    for s in spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0) + ms(s["end"] - s["start"])
    selfs = self_times(spans)
    root = [s for s in spans if s["layer"] == "op"]
    t = lambda key: sum(a.get(key, 0) for a in tasks)
    task_ms = t("task_ms")
    n_jobs = len(jobs)
    merge_out = sum(a["output"] for a in tasks if a["layer"] == "merge")
    runner = [(j["start"], j["end"]) for j in jobs if j["layer"] == "runner"]
    wall = op["ms"]
    m = {
        "sources.schema_jobs": sum(1 for j in jobs if j["layer"] == "construct"
                                   and j["first_stage"].startswith(SCHEMA_STAGE)),
        "construct.ms": by_layer.get("construct", 0.0),
        "construct.jobs": sum(1 for j in jobs if j["layer"] == "construct"),
        "barrier.pins": op["pins"], "barrier.pinned_mb": op["pinned_mb"],
        "barrier.reclaim_ms": by_layer.get("reclaim", 0.0),
        "plan.ms": sum(a["plan_ms"] for a in actions), "plan.actions": len(actions),
        "exec.ms": by_layer.get("execute", 0.0) + by_layer.get("readback", 0.0),
        "exec.jobs": n_jobs, "exec.stages": t("stages"), "exec.tasks": t("tasks"),
        "exec.task_ms": task_ms, "exec.cpu_ms": t("cpu_ms"), "exec.gc_ms": t("gc_ms"),
        "exec.core_util": task_ms / (wall * cores) if wall > 0 else 0.0,
        "exec.ms_per_job": wall / n_jobs if n_jobs else 0.0,
        "shuffle.read_mb": t("shuffle_read") / MB, "shuffle.write_mb": t("shuffle_write") / MB,
        "spill.mb": t("spill") / MB,
        "runner.ms": by_layer.get("runner", 0.0),
        "runner.peak_jobs": peak_concurrency(runner) if runner else 0,
        "checks.ms": sum(a["ms"] for a in actions if a["func"] == "isEmpty"),
        "merge.ms": by_layer.get("merge", 0.0),
        "merge.bytes_written_mb": merge_out / MB,
        "merge.files_written": op["files_written"],
        "merge.write_amp": merge_out / op["batch_bytes"] if op["batch_bytes"] else 0.0,
        "readback.ms": by_layer.get("readback", 0.0),
        "driver.gc_ms": op["driver_gc_ms"], "count.ms": op["count_ms"],
        "op.self_ms": ms(sum(selfs[s["id"]] for s in root)),
    }
    # the totals the ratios are built from, for summing per workload
    m["_wall_ms"], m["_merge_out"], m["_batch_bytes"] = wall, merge_out, op["batch_bytes"]
    return m


def workload_layers(per_op, cores):
    """Sum per-op layer metrics over one pass; ratios are recomputed
    from the summed totals (never averaged)."""
    tot = {k: sum(m[k] for m in per_op) for k in per_op[0]}
    wall = tot["_wall_ms"]
    tot["exec.core_util"] = tot["exec.task_ms"] / (wall * cores) if wall else 0.0
    tot["exec.ms_per_job"] = wall / tot["exec.jobs"] if tot["exec.jobs"] else 0.0
    tot["merge.write_amp"] = (tot["_merge_out"] / tot["_batch_bytes"]
                              if tot["_batch_bytes"] else 0.0)
    tot["runner.peak_jobs"] = max(m["runner.peak_jobs"] for m in per_op)
    return {k: v for k, v in tot.items() if not k.startswith("_")}
