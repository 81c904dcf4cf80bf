"""The closed-loop workloads: seeded inputs, the timed operation, and
the correctness checks that run outside the timed window.

Each workload is driven by one single-threaded generator. The program
sees only the generated inputs; the seed fixes every choice the
generator makes (which tables a mutation touches, which keys a commit
names). The SHAPE of the work is fixed across seeds (mutation mix per
cycle, commit rotation, maintenance cadence), so different seeds give
comparable costs.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import random
import shutil
import statistics
import time

DB = "wh"


class CheckFailed(Exception):
    """A replicated output differs from its source."""


# ---------------------------------------------------------------------------
# warehouse generation (audit_tail)
# ---------------------------------------------------------------------------


def _write_file(path: str, size: int, salt: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    block = hashlib.sha256(salt.encode()).hexdigest().encode()
    with open(path, "wb") as fh:
        fh.write((block * (size // len(block) + 1))[:size])


def _table_rec(root: str, table: str, tldt: int) -> dict:
    return {
        "db": DB, "table": table, "table_type": "MANAGED_TABLE",
        "cols": [{"name": "c1", "type": "string", "comment": "payload"}],
        "partition_keys": [{"name": "ds", "type": "string", "comment": "day"}],
        "location": f"{root}/{DB}/{table}", "serde": "text",
        "parameters": {"transient_lastDdlTime": str(tldt)},
    }


def _part_rec(root: str, table: str, ds: str, tldt: int) -> dict:
    return {
        "partition_name": f"ds={ds}", "values": [ds],
        "location": f"{root}/{DB}/{table}/ds={ds}",
        "parameters": {"transient_lastDdlTime": str(tldt)},
    }


def _file_size(rng: random.Random) -> int:
    return rng.randrange(24, 240)


class Warehouse:
    """A ``DirectoryCatalog`` warehouse of ``n_tables`` tables, each
    with ``n_parts`` partitions of ``files_per_part`` small files,
    written straight to disk (no Spark) so building it is cheap and
    independent of the program under test."""

    def __init__(self, root: str, n_tables: int, n_parts: int,
                 files_per_part: int, rng: random.Random):
        from reair_spark.catalog import DirectoryCatalog

        self.root = root
        cat = DirectoryCatalog(root)
        self.tables = [f"t{i:03d}" for i in range(n_tables)]
        # (table, ds) -> list of file sizes; the content is derived
        # from (table, ds, file index, size), so a copy is checkable
        self.sizes: dict[tuple[str, str], list[int]] = {}
        for ti, t in enumerate(self.tables):
            rec = _table_rec(root, t, 1_000_000 + ti)
            rec["partitions"] = []
            for p in range(n_parts):
                ds = f"{p:04d}"
                rec["partitions"].append(
                    _part_rec(root, t, ds, 2_000_000 + ti * 100 + p))
                self.sizes[(t, ds)] = [
                    _file_size(rng) for _ in range(files_per_part)]
                self.write_part(t, ds)
            cat.create_table(rec)

    def write_part(self, table: str, ds: str) -> None:
        for i, size in enumerate(self.sizes[(table, ds)]):
            _write_file(f"{self.root}/{DB}/{table}/ds={ds}/part-{i}",
                        size, f"{table}/{ds}/{i}/{size}")


def clone_root(src_root: str, dest_root: str) -> None:
    """Exact replica of a warehouse under another root: the same files,
    and the same catalog records with their locations rewritten to the
    new root (a byte copy would leave every record pointing into
    ``src_root``)."""
    shutil.copytree(src_root, dest_root)
    meta = f"{dest_root}/_catalog/{DB}"
    for name in os.listdir(meta):
        path = f"{meta}/{name}"
        with open(path) as fh:
            text = fh.read()
        with open(path, "w") as fh:
            fh.write(text.replace(src_root, dest_root))


def _norm_table(rec: dict, root: str) -> dict:
    """A catalog record in root-independent, comparable form."""
    def cols(cs):
        return [(c["name"], c["type"]) for c in cs or []]

    return {
        "table_type": rec.get("table_type"),
        "cols": cols(rec.get("cols")),
        "partition_keys": cols(rec.get("partition_keys")),
        "serde": rec.get("serde"),
        "parameters": rec.get("parameters") or {},
        "location": (rec.get("location") or "").replace(root, "<root>", 1),
        "partitions": {
            p["partition_name"]: (
                list(p.get("values") or []),
                p.get("parameters") or {},
                (p.get("location") or "").replace(root, "<root>", 1),
            )
            for p in rec.get("partitions") or []
        },
    }


def _files_digest(loc: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(loc):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, loc)] = hashlib.md5(fh.read()).hexdigest()
    return out


def check_tables_equal(src_root: str, dest_root: str,
                       tables: list[str] | None = None) -> None:
    """Dest catalog records and the files under every catalogued
    location equal the source's (locations compared root-relative).
    ``tables`` limits the check; None checks the whole warehouse,
    including that dest has no table the source lacks."""
    from reair_spark.catalog import DirectoryCatalog

    src, dest = DirectoryCatalog(src_root), DirectoryCatalog(dest_root)
    if tables is None:
        s_t, d_t = src.tables(DB), dest.tables(DB)
        if s_t != d_t:
            raise CheckFailed(
                f"table sets differ: only src {sorted(set(s_t) - set(d_t))}, "
                f"only dest {sorted(set(d_t) - set(s_t))}")
        tables = s_t
    for t in tables:
        s, d = src.get_table(DB, t), dest.get_table(DB, t)
        if s is None or d is None:
            if s is not d:
                raise CheckFailed(f"{t}: present on one side only")
            continue
        ns, nd = _norm_table(s, src_root), _norm_table(d, dest_root)
        if ns != nd:
            diff = {k: (ns[k], nd[k]) for k in ns if ns[k] != nd[k]}
            raise CheckFailed(f"{t}: catalog records differ: {diff}"[:2000])
        for pname, (_v, _p, loc) in ns["partitions"].items():
            s_files = _files_digest(loc.replace("<root>", src_root, 1))
            d_files = _files_digest(loc.replace("<root>", dest_root, 1))
            if s_files != d_files:
                raise CheckFailed(f"{t}/{pname}: files differ")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One closed loop: ``build`` makes the inputs, ``op`` runs one
    timed operation and returns its samples (seconds, per metric),
    ``check`` verifies the operation's outputs outside the timed
    window, ``finish`` runs the end-of-run checks."""

    name = ""
    #: untimed operations run before timing starts, fixed per workload
    warmup_ops = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = random.Random(seed)

    def build(self) -> None:
        raise NotImplementedError

    def op(self) -> dict[str, list[float]]:
        raise NotImplementedError

    def check(self) -> None:
        pass

    def finish(self) -> None:
        pass


class AuditTail(Workload):
    """A replica keeping up with the audit log: each cycle the
    generator makes audited mutations on the source and the
    incremental loop replicates them."""

    name = "audit_tail"
    # cycle walls on 4 cores run about 24, 12, then 10 s: the first cycle
    # runs every plan and code path cold. A second warm-up cycle would
    # cost 11-14 s of a run that already takes about 50 s of the budget.
    warmup_ops = 1
    N_TABLES, N_PARTS, N_FILES = 50, 10, 2
    #: mutations per cycle: add-partition (with data files) dominates
    MIX = ("add_partition",) * 6 + ("alter_table", "drop_partition")

    def build(self) -> None:
        from reair_spark.catalog import DirectoryCatalog
        from reair_spark.hook import AuditingCatalog, AuditLogHook

        self.src_root = f"{self.work}/src"
        self.dest_root = f"{self.work}/dest"
        self.state_dir = f"{self.work}/state"
        self.wh = Warehouse(self.src_root, self.N_TABLES, self.N_PARTS,
                            self.N_FILES, self.rng)
        clone_root(self.src_root, self.dest_root)
        self.stamp = 0.0
        self.hook = AuditLogHook(
            self.spark, f"{self.work}/audit_log",
            clock=lambda: _dt.datetime.fromtimestamp(self.stamp),
        )
        self.acat = AuditingCatalog(DirectoryCatalog(self.src_root), self.hook)
        self.next_ds = {t: self.N_PARTS for t in self.wh.tables}
        self.last_id = 0

    def _mutate(self, kind: str, table: str) -> None:
        rng, cat = self.rng, self.acat
        if kind == "add_partition":
            ds = f"{self.next_ds[table]:04d}"
            self.next_ds[table] += 1
            self.wh.sizes[(table, ds)] = [
                _file_size(rng) for _ in range(self.N_FILES)]
            self.wh.write_part(table, ds)
            cat.add_partition(DB, table, _part_rec(
                self.src_root, table, ds, int(self.stamp * 1000)))
        elif kind == "alter_table":
            rec = cat.get_table(DB, table)
            rec["parameters"] = {
                **rec["parameters"],
                "transient_lastDdlTime": str(int(self.stamp * 1000)),
                "comment": f"rev {rng.randrange(10**6)}",
            }
            cat.alter_table(rec)
        else:
            parts = cat.get_partitions(DB, table)
            victim = rng.choice(parts)["partition_name"]
            cat.drop_partition(DB, table, victim)
            shutil.rmtree(f"{self.src_root}/{DB}/{table}/{victim}")

    def op(self) -> dict[str, list[float]]:
        from reair_spark.events import run_incremental

        mix = list(self.MIX)
        self.rng.shuffle(mix)
        self.touched = self.rng.sample(self.wh.tables, len(mix))
        stamps, commits = [], []
        t0 = time.perf_counter()
        for kind, table in zip(mix, self.touched):
            # each audited statement is durable in the log before the
            # next one runs, as the CLI hook writes one row per command
            self.stamp = time.time()
            stamps.append(time.perf_counter())
            self._mutate(kind, table)
            self.hook.flush()
            commits.append(time.perf_counter() - stamps[-1])
        t1 = time.perf_counter()
        # every audited mutation appends exactly one event, ids in order
        pending = list(zip(range(self.last_id + 1, self.last_id + len(mix) + 1),
                           stamps))
        lags: list[float] = []
        while pending:
            self.res = run_incremental(self.spark, self.hook.events_df(),
                                       self.src_root, self.dest_root,
                                       self.state_dir, batch_size=64)
            done = time.perf_counter()
            if self.res["last_id"] <= self.last_id:
                raise CheckFailed("run_incremental made no progress")
            self.last_id = self.res["last_id"]
            lags += [done - s for i, s in pending if i <= self.last_id]
            pending = [(i, s) for i, s in pending if i > self.last_id]
        return {"resync_p50_s": [done - t0], "lag_p50_s": lags,
                "commit_p50_s": commits, "sync_p50_s": [done - t1]}

    def check(self) -> None:
        counts = self.res["job_status_counts"]
        if set(counts) != {"SUCCESSFUL"}:
            raise CheckFailed(f"job states {counts}")
        check_tables_equal(self.src_root, self.dest_root, self.touched)

    def finish(self) -> None:
        check_tables_equal(self.src_root, self.dest_root)


class ZonemapCdf(Workload):
    """Zone-map table format: source commits, each followed by a
    change-feed sync of the dest. One operation is a whole rotation,
    one commit of each kind, then maintenance of both layouts, so
    history stays bounded and every operation does the same mix."""

    name = "zonemap_cdf"
    # the first execution of each commit kind and of its sync pays the
    # JVM's compile cost; one warm-up rotation runs each of them once
    warmup_ops = 1
    N_ROWS, N_BUCKETS = 30_000, 4
    KINDS = ("append", "delete_mor", "upsert_mor")
    STAT_COLS = ["o_orderkey", "o_totalprice"]

    def _orders(self, lo: int, hi: int, salt: int):
        from pyspark.sql import functions as F

        return self.spark.range(lo, hi, 1, 4).select(
            F.col("id").alias("o_orderkey"),
            F.round(F.rand(self.seed * 1000 + salt) * 500_000, 2)
            .alias("o_totalprice"),
            F.pmod(F.col("id"), F.lit(self.N_BUCKETS)).alias("bucket"),
        )

    def build(self) -> None:
        from reair_spark.sources import write_zonemapped

        self.src = f"{self.work}/src"
        self.dest = f"{self.work}/dest"
        write_zonemapped(self._orders(1, self.N_ROWS + 1, 0), self.src,
                         "bucket", stat_cols=self.STAT_COLS)
        # the dest starts as a byte copy of the seeded source layout
        shutil.copytree(self.src, self.dest)
        self.next_key = self.N_ROWS + 1
        self.synced = 0
        self.n_commits = 0

    def _commit(self, kind: str) -> int:
        """One source commit of ``kind``; returns its ingest id."""
        from pyspark.sql import functions as F

        from reair_spark.sources import (
            _claim_ingest_id,
            append_zonemapped,
            zonemap_delete,
            zonemap_upsert_mor,
        )

        self.n_commits += 1
        rng, salt = self.rng, self.n_commits
        if kind == "append":
            n = rng.randrange(1500, 2500)
            lo, self.next_key = self.next_key, self.next_key + n
            iid = _claim_ingest_id(self.src)
            append_zonemapped(self._orders(lo, lo + n, salt), self.src,
                              "bucket", self.STAT_COLS, ingest_id=iid)
            return iid
        if kind == "delete_mor":
            lo = rng.uniform(0, 495_000)
            return zonemap_delete(
                self.spark, self.src,
                predicates=[("o_totalprice", lo, lo + 1500.0)],
                mode="mor")["ingest_id"]
        start = rng.randrange(1, self.next_key - 2000)
        upd = self._orders(start, start + 1500, salt).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1_000_000)
        return zonemap_upsert_mor(self.spark, self.src, upd,
                                  key_cols=["o_orderkey"])["ingest_id"]

    def op(self) -> dict[str, list[float]]:
        from reair_spark.sources import zonemap_maintain
        from reair_spark.streaming import zonemap_cdf_apply

        commits, syncs, self.applied = [], [], []
        t_start = time.perf_counter()
        for kind in self.KINDS:
            t0 = time.perf_counter()
            ingest = self._commit(kind)
            t1 = time.perf_counter()
            self.applied.append(zonemap_cdf_apply(
                self.spark, self.src, self.dest, self.synced))
            commits.append(t1 - t0)
            syncs.append(time.perf_counter() - t1)
            self.synced = ingest
        for loc in (self.src, self.dest):
            zonemap_maintain(self.spark, loc, fold_at=2, compact_at=6)
        wall = time.perf_counter() - t_start
        # one sample per rotation: the kinds' mean, so every sample
        # describes the same mix. A commit's change is visible at the
        # source from its start, so its lag runs to dest convergence.
        return {"commit_p50_s": [statistics.fmean(commits)],
                "sync_p50_s": [statistics.fmean(syncs)],
                "lag_p50_s": [statistics.fmean(map(sum, zip(commits, syncs)))],
                "resync_p50_s": [wall]}

    def check(self) -> None:
        for applied in self.applied:
            if applied["n_commits"] != 1:
                raise CheckFailed(f"apply saw {applied['n_commits']} commits")

    def finish(self) -> None:
        from collections import Counter

        from reair_spark.sources import zonemap_scan

        cols = ["o_orderkey", "o_totalprice", "bucket"]
        rows = [
            Counter(tuple(r) for r in
                    zonemap_scan(self.spark, loc)[0].select(*cols).collect())
            for loc in (self.src, self.dest)
        ]
        only_src, only_dest = rows[0] - rows[1], rows[1] - rows[0]
        if only_src or only_dest:
            raise CheckFailed(
                f"scans differ: {sum(only_src.values())} rows only in src, "
                f"{sum(only_dest.values())} only in dest")


WORKLOADS = {w.name: w for w in (AuditTail, ZonemapCdf)}
