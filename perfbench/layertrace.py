"""Outside-in layer tracer for the traced benchmark run.

Only the traced run installs it. It wraps each ``reair_spark`` layer
function at the module attribute its caller resolves (e.g.
``reair_spark.replicate.list_files``, the name ``replicate_warehouse``
looks up at call time), and records one span per call: name, start,
end, parent, op id, plus the py4j round-trips, Spark job ids and
driver-side ``fs`` seam calls seen between its start and end. Spans
stay in memory; after the timed window :meth:`Tracer.report` folds
them into per-layer counters and returns every span for the run's
detail line.

Sources of the counters:

- py4j round-trips: a counter around
  ``py4j.clientserver.ClientServerConnection.send_command`` (the
  tracer's own job-id probes are excluded). The detach commands py4j
  sends when Python garbage-collects a Java reference are counted
  apart (``session.py4j_gc_per_op``): when they fire depends on the
  collector, not on the program's logic, so they do not repeat from
  run to run;
- Spark jobs: the ``dagScheduler().nextJobId()`` window of the span;
- task time and stage labels: the JVM status store (job descriptions
  ``replicate_warehouse`` sets, stage executor run time), read once at
  the end as ``jobdump.py`` does;
- fs ops: wrappers on the driver's ``LocalFs`` methods, grouped by kind.

A span's self value is its own minus what its child spans cover.
Every wrapped attribute is restored by :meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time

#: (module that owns the attribute, attribute path, layer label)
TARGETS = [
    ("reair_spark.replicate", "snapshot_tables", "catalog.snapshot_tables"),
    ("reair_spark.replicate", "snapshot_partitions", "catalog.snapshot_partitions"),
    ("reair_spark.replicate", "list_files", "inventory.list_files"),
    ("reair_spark.replicate", "dir_digest", "inventory.dir_digest"),
    ("reair_spark.replicate", "warehouse_plan", "diff.warehouse_plan"),
    ("reair_spark.replicate", "plan_copy_tasks", "copy.plan_copy_tasks"),
    ("reair_spark.replicate", "execute_copies", "copy.execute_copies"),
    ("reair_spark.replicate", "rewrite_locations", "commit.rewrite_locations"),
    ("reair_spark.replicate", "execute_commits", "commit.execute_commits"),
    ("reair_spark.replicate", "replicate_warehouse",
     "replicate.replicate_warehouse"),
    ("reair_spark.events", "replicate_warehouse", "replicate.replicate_warehouse"),
    ("reair_spark.events", "compile_jobs", "events.compile_jobs"),
    ("reair_spark.events", "execute_job_rows", "events.execute_job_rows"),
    ("reair_spark.events", "run_incremental", "events.run_incremental"),
    ("reair_spark.state", "JobStore.append_rows", "state.JobStore.append_rows"),
    ("reair_spark.state", "JobStore.status_summary",
     "state.JobStore.status_summary"),
    ("reair_spark.state", "KeyValueStore.set", "state.KeyValueStore.set"),
    ("reair_spark.hook", "AuditLogHook.flush", "hook.AuditLogHook.flush"),
    ("reair_spark.hook", "AuditLogHook.events_df", "hook.AuditLogHook.events_df"),
    ("reair_spark.sources", "append_zonemapped", "sources.append_zonemapped"),
    ("reair_spark.sources", "zonemap_delete", "sources.zonemap_delete"),
    ("reair_spark.sources", "zonemap_upsert_mor", "sources.zonemap_upsert_mor"),
    ("reair_spark.sources", "zonemap_changes", "sources.zonemap_changes"),
    ("reair_spark.sources", "zonemap_scan", "sources.zonemap_scan"),
    ("reair_spark.sources", "zonemap_replace_buckets",
     "sources.zonemap_replace_buckets"),
    ("reair_spark.sources", "zonemap_maintain", "sources.zonemap_maintain"),
    ("reair_spark.streaming", "zonemap_cdf_apply", "streaming.zonemap_cdf_apply"),
]

#: driver-side LocalFs methods, grouped into the kinds reported
FS_KINDS = {
    "scandir": "scandir",
    "open_read": "open_read",
    "create": "create",
    "create_exclusive": "create",
    "create_exclusive_with_content": "create",
    "rename": "rename",
    "isdir": "exists",
    "stat": "exists",
    "mkdirs": "other",
    "unlink": "other",
    "rmdir": "other",
}

#: job description prefix → the layer its jobs are billed to
STAGE_LABELS = {
    "replicate: stage1": "replicate.stage1",
    "replicate: stage2 copy": "copy.stage2",
    "replicate: stage3": "commit.stage3",
}

COUNTERS = ("calls", "self_s", "py4j", "jobs", "task_s", "fs_ops")

# The per-layer metric set: self time for every function; py4j and
# jobs where the function makes them; task time, fs ops and call counts
# only where the layer can move them (at most 128 names).
_LAYERS = sorted({label for _m, _a, label in TARGETS})
_PURE_PYTHON = {"state.JobStore.append_rows", "state.KeyValueStore.set"}
#: plan builders: they start no Spark job of their own
_LAZY = _PURE_PYTHON | {
    "diff.warehouse_plan", "commit.rewrite_locations",
    "copy.plan_copy_tasks", "inventory.dir_digest",
}
_TASK_S = {
    "replicate.replicate_warehouse", "inventory.list_files",
    "copy.execute_copies", "commit.execute_commits", "events.run_incremental",
    "events.execute_job_rows", "state.JobStore.status_summary",
    "hook.AuditLogHook.flush", "sources.append_zonemapped",
    "sources.zonemap_delete", "sources.zonemap_upsert_mor",
    "sources.zonemap_changes", "sources.zonemap_scan",
    "sources.zonemap_replace_buckets", "sources.zonemap_maintain",
    "streaming.zonemap_cdf_apply",
}
_FS_OPS = {
    "catalog.snapshot_tables", "catalog.snapshot_partitions",
    "replicate.replicate_warehouse", "events.execute_job_rows",
    "events.run_incremental", "state.JobStore.append_rows",
    "state.KeyValueStore.set", "sources.append_zonemapped",
    "sources.zonemap_delete", "sources.zonemap_upsert_mor",
    "sources.zonemap_changes", "sources.zonemap_scan",
    "sources.zonemap_replace_buckets", "sources.zonemap_maintain",
    "streaming.zonemap_cdf_apply",
}
_CALLS = {
    "catalog.snapshot_tables", "events.run_incremental",
    "sources.zonemap_scan", "sources.zonemap_maintain",
}
_UNITS = {"calls": "count", "self_s": "s", "py4j": "count", "jobs": "count",
          "task_s": "s", "fs_ops": "count"}
SESSION = {
    "session.boot_s": "s", "session.build_s": "s", "session.warmup_s": "s",
    "session.rss_mb": "MB",
    "session.log_errors": "count", "session.span_coverage": "ratio",
    "session.op_p50_s": "s", "session.jobs_per_op": "count",
    "session.py4j_per_op": "count", "session.py4j_gc_per_op": "count",
}


def metric_names() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out: dict[str, str] = {}
    for layer in _LAYERS:
        for c in COUNTERS:
            if (c == "self_s"
                    or (c == "py4j" and layer not in _PURE_PYTHON)
                    or (c == "jobs" and layer not in _LAZY)
                    or (c == "task_s" and layer in _TASK_S)
                    or (c == "fs_ops" and layer in _FS_OPS)
                    or (c == "calls" and layer in _CALLS)):
                out[f"{layer}.{c}"] = _UNITS[c]
    for label in sorted(STAGE_LABELS.values()):
        out[f"{label}.jobs"] = "count"
        out[f"{label}.task_s"] = "s"
    for kind in sorted(set(FS_KINDS.values())):
        out[f"fs.{kind}.calls"] = "count"
    out["fs.all.self_s"] = "s"
    out.update(SESSION)
    return out


class Span:
    __slots__ = ("id", "name", "op", "parent", "t0", "t1", "p0", "p1", "j0",
                 "j1", "f0", "f1", "children")

    def __init__(self, sid, name, op, parent, t0, p0, j0, f0):
        self.id, self.name, self.op, self.parent = sid, name, op, parent
        self.t0, self.p0, self.j0, self.f0 = t0, p0, j0, f0
        self.t1 = self.p1 = self.j1 = self.f1 = None
        self.children: list[Span] = []


class Tracer:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self.spans: list[Span] = []
        self.n_spans = 0
        self.stack: list[Span] = []
        self.op: int | None = None
        self.py4j = 0
        self.py4j_gc = 0
        self._probing = False
        self.fs_calls = 0
        self.fs_by_kind: dict[str, int] = {k: 0 for k in set(FS_KINDS.values())}
        self.fs_time = 0.0
        self._restore: list[tuple[object, str, object]] = []
        self.op_windows: list[tuple[int, int, int, int]] = []

    # -- probes ---------------------------------------------------------
    def _job_id(self) -> int:
        self._probing = True
        try:
            return int(self._dag.nextJobId())
        finally:
            self._probing = False

    # -- install / uninstall -------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME

        from reair_spark.fs import LocalFs

        orig_send = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig_send)
        def send_command(conn, command, *a, **kw):
            if command.startswith(MEMORY_COMMAND_NAME):
                tracer.py4j_gc += 1
            elif not tracer._probing:
                tracer.py4j += 1
            return orig_send(conn, command, *a, **kw)

        self._patch(ClientServerConnection, "send_command", send_command)

        for meth, kind in FS_KINDS.items():
            self._patch(LocalFs, meth, self._fs_wrapper(
                LocalFs.__dict__[meth], kind))

        wrapped: dict[tuple[str, str], object] = {}
        for modname, path, label in TARGETS:
            owner = importlib.import_module(modname)
            *cls, attr = path.split(".")
            for c in cls:
                owner = getattr(owner, c)
            fn = owner.__dict__[attr]
            # one wrapper per underlying function, so an alias seen from
            # two modules is one layer, not two nested spans
            key = (getattr(fn, "__module__", modname), path)
            if key not in wrapped:
                wrapped[key] = self._span_wrapper(fn, label)
            self._patch(owner, attr, wrapped[key])

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def _fs_wrapper(self, fn, kind: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.op is None:
                return fn(*a, **kw)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                tracer.fs_time += time.perf_counter() - t0
                tracer.fs_calls += 1
                tracer.fs_by_kind[kind] += 1

        return wrapper

    def _span_wrapper(self, fn, label: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.op is None:
                return fn(*a, **kw)
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(tracer.n_spans, label, tracer.op, parent,
                        time.perf_counter(), tracer.py4j, tracer._job_id(),
                        tracer.fs_calls)
            tracer.n_spans += 1
            tracer.stack.append(span)
            try:
                return fn(*a, **kw)
            finally:
                span.j1 = tracer._job_id()
                span.t1, span.p1, span.f1 = (
                    time.perf_counter(), tracer.py4j, tracer.fs_calls)
                tracer.stack.pop()
                if parent is not None:
                    parent.children.append(span)
                tracer.spans.append(span)

        return wrapper

    # -- op windows -----------------------------------------------------
    def begin_op(self, op: int) -> None:
        self.op = op
        if op == 0:
            self.t_origin = time.perf_counter()
        self._op_start = (self._job_id(), self.py4j, self.py4j_gc)

    def end_op(self) -> None:
        j0, p0, g0 = self._op_start
        self.op_windows.append(
            (j0, self._job_id(), p0, self.py4j, g0, self.py4j_gc))
        self.op = None

    # -- report ---------------------------------------------------------
    def _job_table(self, j_lo: int, j_hi: int) -> dict[int, tuple[str, float]]:
        """job id → (description, executor run seconds) for the jobs of
        the timed window, from the status store."""
        from py4j.protocol import Py4JError

        stage_ms: dict[int, int] = {}

        def run_ms(sid: int) -> int:
            if sid not in stage_ms:
                try:
                    stage_ms[sid] = int(
                        self._store.lastStageAttempt(sid).executorRunTime())
                except Py4JError:  # the store never recorded the stage
                    stage_ms[sid] = 0
            return stage_ms[sid]

        out = {}
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            jd = it.next()
            jid = int(jd.jobId())
            if not j_lo <= jid < j_hi:
                continue
            desc = jd.description()
            text = str(desc.get()) if desc.isDefined() else ""
            sids = jd.stageIds()
            total = sum(run_ms(int(sids.apply(i))) for i in range(sids.size()))
            out[jid] = (text, total / 1000.0)
        return out

    def report(self, op_walls: list[float], session: dict) -> dict:
        """Per-layer totals over the timed ops, plus the session and
        coverage figures."""
        jobs = self._job_table(self.op_windows[0][0], self.op_windows[-1][1])
        layers: dict[str, dict[str, float]] = {}

        def add(layer, counter, v):
            d = layers.setdefault(layer, {c: 0.0 for c in COUNTERS})
            d[counter] += v

        top_cover = [0.0] * len(op_walls)
        for s in self.spans:
            own_jobs = set(range(s.j0, s.j1))
            child_t = child_p = child_f = 0
            for c in s.children:
                own_jobs -= set(range(c.j0, c.j1))
                child_t += c.t1 - c.t0
                child_p += c.p1 - c.p0
                child_f += c.f1 - c.f0
            add(s.name, "calls", 1)
            add(s.name, "self_s", (s.t1 - s.t0) - child_t)
            add(s.name, "py4j", (s.p1 - s.p0) - child_p)
            add(s.name, "fs_ops", (s.f1 - s.f0) - child_f)
            add(s.name, "jobs", len(own_jobs))
            add(s.name, "task_s", sum(jobs.get(j, ("", 0.0))[1]
                                      for j in own_jobs))
            if s.parent is None:
                top_cover[s.op] += s.t1 - s.t0
        for jid, (desc, task_s) in jobs.items():
            for prefix, label in STAGE_LABELS.items():
                if desc.startswith(prefix):
                    add(label, "jobs", 1)
                    add(label, "task_s", task_s)
        for kind, n in self.fs_by_kind.items():
            add(f"fs.{kind}", "calls", n)
        add("fs.all", "self_s", self.fs_time)

        return {
            "layers": layers,
            "jobs_per_op": [w[1] - w[0] for w in self.op_windows],
            "py4j_per_op": [w[3] - w[2] for w in self.op_windows],
            "py4j_gc_per_op": [w[5] - w[4] for w in self.op_windows],
            "span_coverage": [c / w for c, w in zip(top_cover, op_walls)],
            "op_walls": op_walls,
            "session": session,
            # every span, ordered by start: id, parent id, op, name,
            # start and end (s after the first timed op began), py4j, jobs
            "spans": [
                [s.id, s.parent.id if s.parent else None, s.op, s.name,
                 s.t0 - self.t_origin, s.t1 - self.t_origin,
                 s.p1 - s.p0, s.j1 - s.j0]
                for s in sorted(self.spans, key=lambda s: s.id)
            ],
        }


def layer_metrics(record: dict, log_errors: int) -> dict:
    """The traced run's printed metrics: every per-layer name, totals
    divided by the number of timed ops (so runs of different length
    compare), 0 for layers this workload never enters."""
    rep = record["trace_report"]
    n_ops = max(1, record["n_ops"])
    session = rep["session"]
    values = {
        "session.boot_s": session["boot_s"],
        "session.build_s": session["build_s"],
        "session.warmup_s": session["warmup_s"],
        "session.rss_mb": record["rss_mb"],
        "session.log_errors": log_errors,
        "session.span_coverage": min(rep["span_coverage"]),
        "session.op_p50_s": statistics.median(rep["op_walls"]),
        "session.jobs_per_op": statistics.median(rep["jobs_per_op"]),
        "session.py4j_per_op": statistics.median(rep["py4j_per_op"]),
        "session.py4j_gc_per_op": statistics.median(rep["py4j_gc_per_op"]),
    }
    out = {}
    for name, unit in metric_names().items():
        if name in values:
            v = values[name]
        else:
            layer, counter = name.rsplit(".", 1)
            v = rep["layers"].get(layer, {}).get(counter, 0.0) / n_ops
        out[name] = {"value": v, "unit": unit}
    return out
