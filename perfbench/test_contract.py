"""Fast checks of the benchmark's own definition (no Spark).

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layertrace  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_per_layer_names_match_the_tracer():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == layertrace.metric_names()
    assert len(declared) <= 128


def test_end_to_end_names_match_the_runner():
    declared = [m["name"] for m in _bench()["end_to_end"]]
    assert declared == ["setup_s", *run.E2E]
    assert max(m["bound"] for m in _bench()["end_to_end"]) == next(
        m["bound"] for m in _bench()["end_to_end"] if m["name"] == "setup_s")


def test_declared_workloads_exist():
    for w in _bench()["workloads"]:
        assert w["name"] in workloads.WORKLOADS


def test_log_error_count():
    text = "\n".join([
        "26/10/17 11:14:26 WARN NativeCodeLoader: Unable to load",
        "26/10/17 11:14:27 ERROR ExecutionListenerBus: Listener failed",
        "java.io.FileNotFoundException: File /x/audit_log does not exist",
        "\tat org.apache.hadoop.fs.RawLocalFileSystem.getFileStatus(x.java:1)",
        "Caused by: java.lang.IllegalStateException: boom",
        "Traceback (most recent call last):",
        "  File \"x.py\", line 1, in <module>",
        "ValueError: bad",
    ])
    # the ERROR record, the Java trace header and the Python traceback
    assert run.count_log_errors(text) == 3


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "audit_tail",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
