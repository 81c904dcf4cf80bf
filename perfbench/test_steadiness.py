"""Steadiness self-check: runs the benchmark itself (about 3 min per
workload on 4 cores).

    python3 -m pytest perfbench/test_steadiness.py -q -s

For each workload in ``BENCHMARK.json``: two traced runs and one
untraced run on the same seed. Spark job counts and py4j round-trips
per timed op must repeat exactly across the two traced runs (the
tracer counts py4j's garbage-collection detach commands apart: they
drift with the collector's timing, by up to 10 % of an op's calls),
and the top-level spans must cover at least 90 % of every timed op's
wall. The tracing overhead is the traced median op wall minus the
untraced one. Every run's
``nproc``, per-run medians and quartiles land in
``.perfbench_runs/steadiness-<workload>.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spread import bench_seconds, run_once  # noqa: E402

SEED = 7


def _workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [w["name"] for w in json.load(fh)["workloads"]]


@pytest.mark.parametrize("workload", _workloads())
def test_traced_runs_repeat(workload):
    seconds = bench_seconds()
    traced = [run_once(workload, SEED, 1, seconds) for _ in range(2)]
    plain = run_once(workload, SEED, 0, seconds)

    layers = [r["detail"]["trace_report"] for r in traced]
    jobs = [rep["jobs_per_op"] for rep in layers]
    py4j = [rep["py4j_per_op"] for rep in layers]
    traced_p50 = statistics.median(
        w for rep in layers for w in rep["op_walls"])
    plain_p50 = statistics.median(plain["detail"]["op_walls"])
    summary = {
        "workload": workload, "seed": SEED,
        "nproc": [r["detail"]["nproc"] for r in [*traced, plain]],
        "jobs_per_op": jobs, "py4j_per_op": py4j,
        "span_coverage": [rep["span_coverage"] for rep in layers],
        "tracing_overhead_s": traced_p50 - plain_p50,
        "tracing_overhead_share": (traced_p50 - plain_p50) / plain_p50,
        "medians": [{k: v["value"] for k, v in plain["result"]["metrics"].items()}],
        "quartiles": [r["detail"]["quartiles"] for r in [*traced, plain]],
    }
    out_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steadiness-{workload}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({k: summary[k] for k in (
        "workload", "nproc", "jobs_per_op", "py4j_per_op",
        "tracing_overhead_s", "tracing_overhead_share")}))

    assert jobs[0] == jobs[1]
    assert py4j[0] == py4j[1]
    assert all(c >= 0.9 for rep in layers for c in rep["span_coverage"])
    assert all(r["result"]["failed"] == 0 for r in [*traced, plain])
