"""Replication benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run boots ``local[nproc]`` Spark,
builds the workload's inputs from ``--seed``, runs the workload's
fixed number of untimed warm-up operations, then times operations
for ``--seconds`` (at least one operation), checking
every operation's outputs outside the timed window. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, where the metrics are the end-to-end medians with
``--trace 0`` and the per-layer counters of ``layertrace.py`` with
``--trace 1``. A correctness mismatch exits 1 without a result.

Every file the run writes lives under ``.perfbench_work/`` in the
repository root and is removed at exit; Spark's own log (stderr of the
JVM) is captured there, counted, and replayed to stderr.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: end-to-end metrics besides setup_s; every workload reports all four
#: (README.md gives what each means on each workload)
E2E = ("resync_p50_s", "lag_p50_s", "commit_p50_s", "sync_p50_s")

# one log4j record at ERROR level, or the first line of a Java / Python
# exception trace (not its "Caused by" or frame lines)
_LOG_ERROR_RE = re.compile(
    r"^(\S+ \S+ ERROR |\S+ ERROR |(?:[a-z]\w*\.)+[A-Z]\w*(?:Exception|Error)\b"
    r"|Traceback \(most recent call last\))"
)


def count_log_errors(text: str) -> int:
    """JVM / Python error records and exception traces in a captured
    log (a stack trace counts once, at its header)."""
    return sum(1 for line in text.splitlines() if _LOG_ERROR_RE.match(line))


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine so far: the share a
    virtual machine's host took away, which explains slow runs."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def _cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes (best of three): how fast
    the machine ran single-threaded code around the run, which tells
    a slow machine from a slow program."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return statistics.quantiles(xs, n=4)


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _boot(work: str, nproc: int):
    """The engine session, with every scratch path inside ``work``."""
    from pyspark.sql import SparkSession

    from reair_spark.session import get_spark

    SparkSession.builder.config("spark.ui.showConsoleProgress", "false")
    return get_spark("perfbench", cpus=nproc, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads job/stage records back from the status
        # store; keep every record of a run (both modes, same conf)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM the run launched has exited
    (it takes its Python workers down with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def run(args, work: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    steal0, total0 = _cpu_jiffies()
    probe0 = _cpu_probe_s()
    t_boot = time.perf_counter()
    spark = _boot(work, nproc)
    t_built = time.perf_counter()
    try:
        record = _measure(args, work, spark, nproc, t_built - t_boot)
    finally:
        _stop(spark)
    steal1, total1 = _cpu_jiffies()
    record["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    record["cpu_probe_s"] = [probe0, _cpu_probe_s()]
    return record


def _measure(args, work: str, spark, nproc: int, boot_s: float) -> dict:
    from workloads import WORKLOADS

    t_built = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
    wl.build()
    t_warm = time.perf_counter()
    warm_walls = []
    for _ in range(wl.warmup_ops):
        t0 = time.perf_counter()
        wl.op()
        warm_walls.append(time.perf_counter() - t0)
        wl.check()
    setup_s = time.perf_counter() - T_START
    session = {
        "boot_s": boot_s,
        "build_s": t_warm - t_built,
        "warmup_s": time.perf_counter() - t_warm,
        "warmup_walls": warm_walls,
    }

    tracer = None
    if args.trace:
        from layertrace import Tracer

        tracer = Tracer(spark)
        tracer.install()
    samples: dict[str, list[float]] = {m: [] for m in E2E}
    op_walls: list[float] = []
    t_measure = time.perf_counter()
    try:
        while (time.perf_counter() - t_measure < args.seconds
               or not op_walls):
            if tracer:
                tracer.begin_op(len(op_walls))
            t0 = time.perf_counter()
            try:
                got = wl.op()
            finally:
                op_walls.append(time.perf_counter() - t0)
                if tracer:
                    tracer.end_op()
            for k, v in got.items():
                samples[k] += v
            wl.check()
        measured_s = time.perf_counter() - t_measure
    finally:
        if tracer:
            tracer.uninstall()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    rss_mb = _rss_mb(os.getpid()) + _rss_mb(jvm_pid)
    wl.finish()

    record = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "trace": args.trace, "setup_s": setup_s, "measured_s": measured_s,
        "n_ops": len(op_walls), "session": session, "rss_mb": rss_mb,
        "samples": samples, "op_walls": op_walls,
        "sample_counts": {k: len(v) for k, v in samples.items()},
        "quartiles": {k: _quartiles(v) for k, v in samples.items() if v},
    }
    if tracer:
        record["trace_report"] = tracer.report(op_walls, session)
    else:
        record["metrics"] = {"setup_s": {"value": setup_s, "unit": "s"}}
        for k, v in samples.items():
            record["metrics"][k] = {"value": statistics.median(v), "unit": "s"}
    # a failed check aborts the run (exit 1), so a printed result has
    # no failed operations
    record["attempted"], record["failed"] = len(op_walls), 0
    return record


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "reair_spark")):
        print(f"perfbench: no reair_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM the run starts (Spark's launcher and the driver) keeps
    # its temp files in the work dir and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                    "-XX:-UsePerfData") if p)
    os.chdir(work)

    # capture fd 2 (the JVM inherits it) so the run can count log errors
    log_path = os.path.join(work, "spark.log")
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    record, rc = None, 1
    try:
        record = run(args, work)
        rc = 0
    except Exception:
        import traceback

        traceback.print_exc()
    finally:
        sys.stderr.flush()
        os.dup2(saved_err, 2)
        os.close(saved_err)
        with open(log_path, errors="replace") as fh:
            log_text = fh.read()
        sys.stderr.write(log_text)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if record is None:
        return rc
    n_errors = count_log_errors(log_text)
    if args.trace:
        from layertrace import layer_metrics

        metrics = layer_metrics(record, n_errors)
    else:
        metrics = record["metrics"]
    detail = {k: v for k, v in record.items() if k != "metrics"}
    detail["log_errors"] = n_errors
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": True, "attempted": record["attempted"],
        "failed": record["failed"], "metrics": metrics,
    }, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
