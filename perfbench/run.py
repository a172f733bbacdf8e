#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Builds the engine and harness if needed (`build.py`), runs the harness on
the workload's queries (`workloads.json`) over the tables in
`perfbench/data/sf0.1`, checks the check pass's outputs against the oracle
goldens (`goldens/`), and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). The line before it carries the run's details: seed, query
order, tail percentile and sample count, failed_frac, output_mb, and the
golden mismatches if any. A traced run keeps its spans, jobs and stages in
`<build dir>/traces/`. Exits non-zero without a result line on any error.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 160
# one untimed pass after the cold check pass, then at least three timed ones
WARMUP_PASSES = 1
MIN_PASSES = 3


def run_jvm(cmd, log_path):
    """Run `cmd`; returns (exit code, peak RSS in MB) of that process."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024  # ru_maxrss is KiB


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workloads = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload}; have {', '.join(workloads)}")
    wl = workloads[args.workload]
    goldens = json.loads((HERE / "goldens" / f"{args.workload}.json").read_text())
    missing = [q for q in wl["queries"] if q not in goldens]
    if missing:
        sys.exit(f"no golden for {missing}; run perfbench/goldens.py")

    build.build()
    run_dir = build.build_dir() / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    log_path = run_dir / "records.jsonl"
    cores = len(os.sched_getaffinity(0))
    cmd = build.java_cmd(run_dir / "tmp", "perfbench.Harness") + [
            "--queries", ",".join(wl["queries"]), "--cores", str(cores),
            "--data", str(HERE / "data" / "sf0.1"), "--out", str(run_dir / "out"),
            "--tmp", str(run_dir / "tmp"), "--log", str(log_path),
            "--sink", wl["sink"], "--warmup", str(WARMUP_PASSES),
            "--min-passes", str(MIN_PASSES),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace)]
    spawn = time.time()
    code, rss_mb = run_jvm(cmd, run_dir / "jvm.log")
    if code != 0:
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        sys.exit(f"harness exited {code}")

    recs = metrics.by_kind(json.loads(line) for line in log_path.open())

    # outputs: the check pass against the goldens, timed reps by row count
    import goldens as gold
    con = gold.connect()
    wrong = {}
    for c in recs["check"]:
        q = c["query"]
        if c["err"] is not None:
            wrong[q] = c["err"]
            continue
        why = gold.mismatch(goldens[q], gold.output_digest(con, run_dir / "out" / "check" / q))
        if why:
            wrong[q] = why
    checked_rows = {q: goldens[q]["rows"] for q in wl["queries"]}
    reps = recs["rep"]
    failed = metrics.rep_failures(reps, checked_rows)
    correct = not wrong and len(recs["check"]) == len(wl["queries"]) and \
        not any(r["err"] is None for r in failed)

    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "order": recs["meta"][0]["order"], "cores": cores,
            "failed_frac": metrics.failed_frac(len(failed), len(reps)),
            "golden_mismatch": wrong,
            "failed_reps": [(r["pass"], r["query"], r["err"] or f"rows {r['rows']}")
                            for r in failed][:10]}
    if args.trace:
        result = metrics.per_layer(recs, cores)
        traces = build.build_dir() / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(log_path, traces / f"{args.workload}-seed{args.seed}.jsonl")
    else:
        result, more = metrics.end_to_end(recs, spawn, rss_mb,
                                          len(wl["queries"]) * MIN_PASSES)
        info.update(more)
        # the sink overwrites per rep, so it holds one pass's output
        sink = run_dir / "out" / "sink"
        info["output_mb"] = sum(f.stat().st_size for f in sink.rglob("*") if f.is_file()) / 2**20
    shutil.rmtree(run_dir / "out", ignore_errors=True)
    print(json.dumps(info))
    print(metrics.result_line(correct, len(reps), len(failed), result))


if __name__ == "__main__":
    main()
