"""Metric math of the benchmark: plain functions over the harness's record
file, kept free of I/O so `tests/test_metrics.py` can pin them."""
import json
import math
from collections import defaultdict

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail_pct(n_min):
    """The highest percentile with TAIL_BEYOND samples beyond it in a run
    of `n_min` samples, the fewest a run takes. Fixing it per workload keeps
    the reported percentile the same in every run of the workload."""
    if n_min <= TAIL_BEYOND:
        raise ValueError(f"{n_min} samples leave none below the tail")
    return 100.0 * (n_min - TAIL_BEYOND) / n_min


def tail(xs, pct):
    """Nearest-rank `pct` percentile of `xs`."""
    s = sorted(xs)
    rank = math.ceil(round(pct / 100 * len(s), 9))  # 1-based
    return s[max(rank, 1) - 1]


def failed_frac(failed, attempted):
    if attempted < 1:
        raise ValueError("no attempted reps")
    return failed / attempted


def core_util(run_ms, wall_ms, cores):
    """Share of the cores' wall time spent running tasks."""
    return run_ms / (wall_ms * cores)


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_ms(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def result_line(correct, attempted, failed, metrics):
    """The result line, the run's last stdout line; `metrics` maps
    name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


# ---- records -> metrics ---------------------------------------------------

def by_kind(records):
    out = defaultdict(list)
    for r in records:
        out[r["kind"]].append(r)
    return out


def rep_failures(reps, checked_rows):
    """Timed reps that threw or returned another row count than the check."""
    return [r for r in reps
            if r["err"] is not None or r["rows"] != checked_rows.get(r["query"])]


def end_to_end(recs, spawn_epoch_s, rss_peak_mb, n_min):
    """name -> (value, unit) for the untraced passes, plus the info dict;
    `n_min` is the fewest reps a run of the workload takes."""
    passes = [p for p in recs["pass"] if not p["traced"]]
    untraced = {p["pass"] for p in passes}
    lat = [r["ms"] for r in recs["rep"] if r["pass"] in untraced]
    if len(lat) < n_min:
        raise ValueError(f"{len(lat)} reps, fewer than the {n_min} a run takes")
    pct = tail_pct(n_min)
    timed_start = recs["timed_start"][0]["epoch_ms"] / 1000
    metrics = {
        "setup_s": (timed_start - spawn_epoch_s, "s"),
        "suite_s": (median(p["wall_ms"] for p in passes) / 1000, "s"),
        "query_p50_ms": (median(lat), "ms"),
        "query_tail_ms": (tail(lat, pct), "ms"),
        "rss_peak_mb": (rss_peak_mb, "MB"),
    }
    info = {"query_tail_pct": round(pct, 2), "query_tail_n": len(lat), "passes": len(passes)}
    return metrics, info


# per-layer metric -> unit, in BENCHMARK.json order
LAYER_UNITS = {
    "tables.infer_jobs": "count", "tables.infer_ms": "ms", "tables.resolve_ms": "ms",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "operators.barrier_jobs": "count", "operators.build_share": "ratio",
    "operators.build_self_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.qe_count": "count", "plans.plan_ms": "ms",
    "plans.pinned_rdds": "count", "plans.pinned_mb": "MB", "plans.memo_rdds": "count",
    "plans.sweep_ms": "ms",
    "sched.action_ms": "ms", "sched.action_self_ms": "ms", "sched.jobs": "count",
    "sched.job_gap_ms": "ms", "sched.stages": "count", "sched.stages_skipped": "count",
    "sched.tasks": "count", "sched.tasks_per_stage": "ratio", "sched.delay_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.deser_ms": "ms", "task.gc_ms": "ms",
    "task.failed": "count", "task.peak_mem_mb": "MB", "task.core_util": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_ms": "ms", "shuffle.write_ms": "ms", "shuffle.spill_mb": "MB",
    "io.input_mb": "MB", "io.input_rows": "count", "io.output_mb": "MB",
    "io.output_rows": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB", "jvm.codecache_mb": "MB",
    "trace.query_self_ms": "ms", "trace.coverage_min": "ratio", "trace.overhead_s": "s",
}

STAGE_SUMS = {
    "sched.tasks": "tasks", "sched.delay_ms": "delay_ms", "task.run_ms": "run_ms",
    "task.cpu_ms": "cpu_ms", "task.deser_ms": "deser_ms", "task.gc_ms": "gc_ms",
    "task.failed": "failed", "shuffle.write_mb": "shuffle_write_mb",
    "shuffle.read_mb": "shuffle_read_mb", "shuffle.records": "shuffle_records",
    "shuffle.fetch_wait_ms": "fetch_wait_ms", "shuffle.write_ms": "shuffle_write_ms",
    "shuffle.spill_mb": "spill_mb", "io.input_mb": "input_mb",
    "io.input_rows": "input_rows", "io.output_mb": "output_mb",
    "io.output_rows": "output_rows",
}


def _dur(x):
    return x["end"] - x["start"]


def layer_pass(recs, pass_rec, cores):
    """Per-layer sums of one traced pass."""
    p = pass_rec["pass"]
    spans = [s for s in recs["span"] if s["pass"] == p]
    queries = [s for s in spans if s["name"] == "query"]
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    query_span_ids = {s["id"] for s in spans if s["name"] != "tables.resolve"}
    jobs = [j for j in recs["job"] if j["span"] in query_span_ids and "end" in j]
    stages = [s for s in recs["stage"] if s.get("span") in query_span_ids and "end" in s]
    jobs_of = defaultdict(list)
    for j in jobs:
        jobs_of[j["span"]].append(j)
    build_ids = {s["id"] for s in by_name["operators.build"]}
    build_jobs = [j for j in jobs if j["span"] in build_ids]
    table_jobs = [j for j in jobs if j["tables"]]

    def in_pass(t):
        return any(q["start"] <= t <= q["end"] for q in queries)
    qes = [q for q in recs["qe"] if in_pass(q["phase_start"])] + \
        [q for q in queries if "planning_ms" in q]

    # skipped stages: listed by a job but not first submitted while it ran
    stage_first = {}
    for s in recs["stage"]:
        if "start" in s:
            stage_first.setdefault(s["id"], s["start"])
    skipped = sum(1 for j in jobs for sid in j["stages"]
                  if not (sid in stage_first and j["start"] <= stage_first[sid] <= j["end"]))

    query_ms = sum(_dur(q) for q in queries)
    build_ms = sum(_dur(s) for s in by_name["operators.build"])
    m = {
        "tables.infer_jobs": len(table_jobs),
        "tables.infer_ms": sum(_dur(j) for j in table_jobs),
        "tables.resolve_ms": pass_rec["resolve_ms"],
        "operators.build_ms": build_ms,
        "operators.build_jobs": len(build_jobs),
        "operators.barrier_jobs": len([j for j in build_jobs if not j["tables"]]),
        "operators.build_share": build_ms / query_ms,
        "operators.build_self_ms": sum(
            self_ms(s, jobs_of[s["id"]]) for s in by_name["operators.build"]),
        "plans.analysis_ms": sum(q["analysis_ms"] for q in qes),
        "plans.optimization_ms": sum(q["optimization_ms"] for q in qes),
        "plans.planning_ms": sum(q["planning_ms"] for q in qes),
        "plans.qe_count": len(qes),
        "plans.plan_ms": sum(_dur(s) for s in by_name["plans.plan"]),
        "plans.pinned_rdds": sum(q.get("pinned_rdds", 0) for q in queries),
        "plans.pinned_mb": sum(q.get("pinned_mb", 0) for q in queries),
        "plans.memo_rdds": sum(q.get("memo_rdds", 0) for q in queries),
        "plans.sweep_ms": sum(_dur(s) for s in by_name["plans.sweep"]),
        "sched.action_ms": sum(_dur(s) for s in by_name["sched.action"]),
        "sched.action_self_ms": sum(
            self_ms(s, jobs_of[s["id"]]) for s in by_name["sched.action"]),
        "sched.jobs": len(jobs),
        "sched.job_gap_ms": sum(
            self_ms(j, [s for s in stages if s["id"] in set(j["stages"])]) for j in jobs),
        "sched.stages": len(stages),
        "sched.stages_skipped": skipped,
        "task.peak_mem_mb": max([s["peak_mem_mb"] for s in stages], default=0.0),
        "jvm.gc_ms": pass_rec["gc_ms"],
        "jvm.heap_peak_mb": pass_rec["heap_peak_mb"],
        "jvm.codecache_mb": pass_rec["codecache_mb"],
        "trace.query_self_ms": sum(self_ms(q, kids[q["id"]]) for q in queries),
        "trace.coverage_min": min(
            sum(_dur(c) for c in kids[q["id"]]) / _dur(q) for q in queries),
    }
    for name, key in STAGE_SUMS.items():
        m[name] = sum(s[key] for s in stages)
    m["sched.tasks_per_stage"] = m["sched.tasks"] / max(1, m["sched.stages"])
    m["task.core_util"] = core_util(m["task.run_ms"], pass_rec["wall_ms"], cores)
    return m


def per_layer(recs, cores):
    """name -> (value, unit): per-layer medians over the traced passes, and
    the tracing overhead against the interleaved untraced passes."""
    traced = [p for p in recs["pass"] if p["traced"]]
    plain = [p for p in recs["pass"] if not p["traced"]]
    if not traced or not plain:
        raise ValueError("a traced run needs traced and untraced passes")
    per_pass = [layer_pass(recs, p, cores) for p in traced]
    out = {k: (median(m[k] for m in per_pass), LAYER_UNITS[k]) for k in per_pass[0]}
    out["trace.overhead_s"] = ((median(p["wall_ms"] for p in traced)
                                - median(p["wall_ms"] for p in plain)) / 1000, "s")
    return {k: out[k] for k in LAYER_UNITS}
