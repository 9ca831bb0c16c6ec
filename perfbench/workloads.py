"""The CDC workloads: setup, oracle, timed phase, probes and checks.

Each workload reports the same end-to-end metric names; what each name
measures on each workload is listed in README.md. Inputs are sized per
``--size``: ``full`` is what BENCHMARK.json runs, ``tiny`` is for the
smoke test.
"""

from __future__ import annotations

import os
import time
from random import Random

import pandas as pd
from pyspark.sql import functions as F

from mysql_binlog_spark.engine.pipeline import (
    plan_entries,
    run_ingest,
    snapshot_direct,
    table_snapshot,
)
from mysql_binlog_spark.lake.io import io_for_root
from mysql_binlog_spark.operators.collapse import (
    collapse_latest,
    expand_renames,
    snapshot_from_events,
)
from mysql_binlog_spark.operators.ddl import extract_ddl_ops_for_path
from mysql_binlog_spark.sinks.binlog_file import (
    DELETE_ROWS_EVENT_V2,
    FORMAT_DESCRIPTION_EVENT,
    QUERY_EVENT,
    STMT_END_F,
    UPDATE_ROWS_EVENT_V2,
    WRITE_ROWS_EVENT_V2,
    consolidate_netchange_exports,
    iter_binlog_events,
    read_binlog_files,
    read_netchange_binlog_files,
    write_binlog_files,
    write_netchange_binlog_files,
)
from mysql_binlog_spark.sinks.mysql_apply import apply_binlog_dir
from mysql_binlog_spark.sources.changelog_source import read_changelog_range

from perfbench import oracle
from perfbench.inputs import Changelog, ChangelogPlan
from perfbench.trace import CountingIO, TimedLakeTable, median

ROWS_EVENTS = (WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2)
N_BUCKETS = 16
N_LOOKUPS = 30  # the median then has fifteen samples beyond it

SIZES = {
    "full": {
        "trickle_backup": {"prefix": 4_500, "epoch": 1_500},
        "compact_export": {"events": 10_000, "epoch": 5_000, "warm": 2_000},
    },
    "tiny": {
        "trickle_backup": {"prefix": 1_000, "epoch": 500},
        "compact_export": {"events": 4_000, "epoch": 1_000, "warm": 500},
    },
}


class Ctx:
    """Per-run state shared by the runner and a workload."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int, seconds: float, size: str):
        self.spark = spark
        self.tracer = tracer
        self.traced = tracer.traced
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.ios: list[CountingIO] = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = {}
        self.digests: dict[str, str] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {}

    def table(self, name: str, track_changes: bool = False) -> TimedLakeTable:
        root = os.path.join(self.work, name)
        io = None
        if self.traced:
            io = CountingIO(io_for_root(self.spark, root))
            self.ios.append(io)
        return TimedLakeTable(
            self.tracer, self.spark, root, n_buckets=N_BUCKETS, io=io,
            track_changes=track_changes,
        )

    def call(self, layer: str, fn, *args, span_attrs: dict | None = None, **kwargs):
        """One public call, counted as attempted; an exception is a failed
        operation and is re-raised (a run with a failed call has no
        trustworthy metrics)."""
        self.attempted += 1
        try:
            with self.tracer.span(layer, **(span_attrs or {})):
                return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            raise

    def check(self, name: str, bad: int) -> None:
        """Record one oracle comparison; ``bad`` rows or counts disagreed."""
        self.attempted += 1
        self.checks[name] = self.checks.get(name, 0) + int(bad)
        if bad:
            self.failed += 1


def _live_bytes(t) -> int:
    return sum(
        os.path.getsize(f) for files in t.read_manifest()["buckets"].values() for f in files
    )


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n)) for r, _, ns in os.walk(d) for n in ns
    )


def _lookup_keys(ctx: Ctx, want: pd.DataFrame, n: int) -> list[tuple[str, str]]:
    """Seeded keys: half present in the final state, half absent."""
    rnd = Random(ctx.seed * 7919 + n)
    present = list(zip(want["repo"], want["path"]))
    hits = [present[rnd.randrange(len(present))] for _ in range(n // 2)]
    keys = hits + [(r, f"src/none/missing_{i:04d}.py") for i, (r, _) in enumerate(hits)]
    rnd.shuffle(keys)
    return keys


def _lookups(ctx: Ctx, t, keys, want: pd.DataFrame | None, warm: int = 0) -> list[float]:
    """Timed point lookups after ``warm`` untimed ones. With ``want`` (the
    oracle's final state) each result must match it; without, absent keys
    must still come back empty."""
    commit_of = {}
    if want is not None:
        commit_of = dict(zip(zip(want["repo"], want["path"]), want["commit"]))
    for repo, path in keys[:warm]:
        t.lookup(repo, path).collect()
    lat = []
    for repo, path in keys:
        t0 = time.monotonic()
        rows = ctx.call("lake.lookup", lambda: t.lookup(repo, path).collect())
        lat.append(time.monotonic() - t0)
        if want is not None:
            exp = commit_of.get((repo, path))
            ok = [r["commit"] for r in rows] == ([exp] if exp is not None else [])
        elif path.startswith("src/none/"):
            ok = not rows
        else:
            continue
        ctx.check("lookup", int(not ok))
    return lat


def _resume(ctx: Ctx, t, fn, reps: int = 7) -> None:
    """Walls of re-runs over a fully applied table (after two untimed
    re-runs) into ``info["resume_s"]``; each must commit nothing."""
    fn()
    fn()
    walls = []
    for _ in range(reps):
        v0 = t.current_version()
        t0 = time.monotonic()
        rep = ctx.call("engine.resume", fn)
        walls.append(time.monotonic() - t0)
        ctx.check("resume_noop", int(rep.epochs_run != 0 or t.current_version() != v0))
    ctx.info["resume_s"] = walls


def _readback(ctx: Ctx, t, want: pd.DataFrame, name: str, reps: int = 10) -> float:
    """Full read of the live table, ``reps`` times after two untimed
    reads; checked against the oracle row by row. Returns the median
    rows/s."""
    for _ in range(2):
        table_snapshot(t).toPandas()
    rates = []
    got = None
    for _ in range(reps):
        t0 = time.monotonic()
        got = ctx.call("lake.read_state", lambda: table_snapshot(t).toPandas())
        rates.append(len(got) / (time.monotonic() - t0))
    ctx.check(name, oracle.mismatches(got, want, oracle.SNAPSHOT_KEY))
    ctx.digests[name] = oracle.digest(got, oracle.SNAPSHOT_KEY)
    ctx.info["readback_rows_per_s"] = rates
    return median(rates)


def _collapse_alone(ctx: Ctx, log, ranges: list[tuple[int, int]]) -> None:
    """Traced runs only: re-run the epoch reads + collapse without the
    merge, to attribute scan and collapse cost that the merge's own jobs
    execute lazily. Rows out are counted with an observation."""
    from pyspark.sql import Observation

    for lo, hi in ranges:
        obs = Observation(f"collapse_{lo}_{hi}")
        ev = read_changelog_range(ctx.spark, log.path, lo, hi).filter(F.col("op") != "Q")
        df = collapse_latest(expand_renames(ev)).observe(obs, F.count(F.lit(1)).alias("n"))
        with ctx.tracer.span("operators.collapse", raw=log.raw_in_range(lo, hi)) as rec:
            df.write.format("noop").mode("overwrite").save()
        rec["rows_out"] = obs.get["n"]


# ---------------------------------------------------------------------------
# trickle_backup
# ---------------------------------------------------------------------------


class TrickleBackup:
    """Pre-load a tracked table with the changelog's prefix (setup), then
    apply the tail one plan entry per call with point lookups after each
    commit; a truncate and a rename sit in the tail as DDL barriers."""

    @staticmethod
    def plan(seconds: float, size: str) -> ChangelogPlan:
        sz = SIZES[size]["trickle_backup"]
        pre, ep = sz["prefix"], sz["epoch"]
        # the tail is sized from the time budget; both DDL sit on epoch
        # boundaries (merge, truncate, merge, rename, merge, ...) so every
        # seed plans the same entries
        merges = max(3, round(seconds / 2.5))
        ddl = ((pre + ep, "truncate"), (pre + 2 * ep, "rename"))
        return ChangelogPlan(pre + merges * ep - len(ddl), ddl=ddl)

    def __init__(self, ctx: Ctx, log: Changelog):
        self.ctx = ctx
        self.log = log
        self.sz = SIZES[ctx.size]["trickle_backup"]

    def setup(self) -> None:
        ctx = self.ctx
        self.t = ctx.table("lake", track_changes=True)
        self.prefix_hi = self.sz["prefix"] - 1
        run_ingest(ctx.spark, self.log.path, self.t, epoch_size=self.sz["epoch"],
                   max_seq=self.log.max_seq, stop_after_epochs=self._prefix_entries())

    def _entries(self):
        ops = extract_ddl_ops_for_path(None, self.log.path, None)
        return plan_entries(self.log.max_seq, self.sz["epoch"], ops)

    def _prefix_entries(self) -> int:
        return sum(1 for e in self._entries() if e[0] == "merge" and e[3] <= self.prefix_hi)

    def oracle(self) -> None:
        self.want = oracle.replay(self.log.path, self.log.ddl, self.ctx.work)

    def run(self) -> None:
        ctx = self.ctx
        entries = self._entries()[self._prefix_entries():]
        keys = _lookup_keys(ctx, self.want, len(entries) * 2)
        ingest_s, lat = 0.0, []
        for i, e in enumerate(entries):
            t0 = time.monotonic()
            rep = ctx.call("engine.run_ingest", run_ingest, ctx.spark, self.log.path, self.t,
                           epoch_size=self.sz["epoch"], max_seq=self.log.max_seq,
                           stop_after_epochs=1)
            ingest_s += time.monotonic() - t0
            ctx.check("one_entry_per_call", int(rep.epochs_run != 1))
            # reads beside writes, on keys present at the end or never
            lat += _lookups(ctx, self.t, keys[2 * i:2 * i + 2], None)
        lo = self.prefix_hi
        merges = [s for s in ctx.tracer.of("lake.merge") if s.get("committed")]
        raw = self.log.raw_in_range(lo, self.log.max_seq)
        ctx.e2e["events_per_s"] = raw / ingest_s
        ctx.e2e["commit_s_p50"] = median([s["s"] for s in merges])
        ctx.info.update(entries=len(entries), epochs=len(merges), ingest_s=ingest_s,
                        merge_s=[s["s"] for s in merges],
                        ddl_s=[s["s"] for s in ctx.tracer.of("lake.ddl")],
                        raw_ingested=raw)
        self.interleaved = lat

    def probes(self) -> None:
        ctx = self.ctx
        _resume(ctx, self.t, lambda: run_ingest(ctx.spark, self.log.path, self.t,
                                               epoch_size=self.sz["epoch"]))
        n_final = max(N_LOOKUPS - len(self.interleaved), 2)
        lat = self.interleaved + _lookups(
            ctx, self.t, _lookup_keys(ctx, self.want, n_final), self.want, warm=3
        )
        ctx.e2e["lookup_s_p50"] = median(lat)
        ctx.info["lookup_s"] = lat
        ctx.e2e["readback_rows_per_s"] = _readback(ctx, self.t, self.want, "snapshot")
        ctx.e2e["out_bytes_per_row"] = _live_bytes(self.t) / max(len(self.want), 1)

    def traced_extra(self) -> None:
        _collapse_alone(self.ctx, self.log, [
            (e[2], e[3]) for e in self._entries() if e[0] == "merge" and e[2] >= self.prefix_hi
        ])


# ---------------------------------------------------------------------------
# compact_export
# ---------------------------------------------------------------------------


class RecordingConnection:
    """DB-API stub that records statements and counts transactions."""

    def __init__(self):
        self.statements: list[str] = []
        self.commits = 0

    def cursor(self):
        return self

    def execute(self, sql: str) -> None:
        self.statements.append(sql)

    def commit(self) -> None:
        self.commits += 1

    def close(self) -> None:
        pass


def _expected_apply(out_dir: str) -> tuple[int, int]:
    """(statements, transactions) the applier must issue for the files,
    counted from the event stream: one committed statement per format
    description, one statement per rows group ending in STMT_END, and one
    transaction per BEGIN query."""
    import tarfile

    stmts = txns = 0

    def walk(blob: bytes) -> None:
        nonlocal stmts, txns
        for etype, _raw, body, _pos in iter_binlog_events(blob):
            if etype == FORMAT_DESCRIPTION_EVENT:
                stmts += 1
                txns += 1
            elif etype == QUERY_EVENT and body.endswith(b"BEGIN"):
                txns += 1
            elif etype in ROWS_EVENTS:
                if int.from_bytes(body[6:8], "little") & STMT_END_F:
                    stmts += 1

    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            full = os.path.join(root, n)
            if n.endswith(".tar"):
                with tarfile.open(full) as tf:
                    for m in tf.getmembers():
                        walk(tf.extractfile(m).read())
            elif ".log" in n:
                with open(full, "rb") as f:
                    walk(f.read())
    return stmts, txns


class CompactExport:
    """Bounded replay to snapshot binlog files and back; then net-change
    export of a tracked table built in setup: diff -> rotated zlib binlog
    files -> tar consolidation -> parse back -> apply to a DB stub."""

    MAX_FILE_BYTES = 64 * 1024
    # every export file costs a writer group, a tar member and a parse
    # task; 40 repos keep a cycle short enough to repeat within a run
    N_REPOS = 40
    REPLAYS = 3  # replays per cycle: one replay is under a second

    @classmethod
    def plan(cls, seconds: float, size: str) -> ChangelogPlan:
        return ChangelogPlan(SIZES[size]["compact_export"]["events"], n_repos=cls.N_REPOS)

    def __init__(self, ctx: Ctx, log: Changelog):
        self.ctx = ctx
        self.log = log
        self.sz = SIZES[ctx.size]["compact_export"]

    def setup(self) -> None:
        ctx = self.ctx
        t0 = time.monotonic()
        self.t = ctx.table("lake", track_changes=True)
        run_ingest(ctx.spark, self.log.path, self.t, epoch_size=self.sz["epoch"])
        ctx.info["preload_s"] = time.monotonic() - t0
        head = self.t.current_version()
        self.v_old, self.v_new = max(head // 2, 1), head
        # one untimed cycle on a small slice compiles the sink paths
        self._cycle("warm", max_seq=self.sz["warm"] - 1, v_old=self.v_new - 1, replays=1)

    def oracle(self) -> None:
        self.want = oracle.replay(self.log.path, self.log.ddl, self.ctx.work)
        self.want_diff = self.t.diff(self.v_old, self.v_new).toPandas()

    def _cycle(self, tag: str, max_seq: int | None = None, v_old: int | None = None,
               replays: int = REPLAYS) -> dict:
        ctx = self.ctx
        spark = ctx.spark
        out = os.path.join(ctx.work, f"export-{tag}")
        snap_dir, nc_dir = os.path.join(out, "snapshot"), os.path.join(out, "netchange")
        rec = {"replay_s": []}
        n_raw = self.log.raw_in_range(-1, max_seq if max_seq is not None else self.log.max_seq)
        for i in range(replays):
            if i:
                snap.unpersist()
            t0 = time.monotonic()
            if max_seq is None:
                snap = snapshot_direct(spark, self.log.path)
            else:
                snap = snapshot_from_events(read_changelog_range(spark, self.log.path, -1, max_seq))
            snap = snap.persist()
            n_snap = ctx.call("operators.collapse", snap.count, span_attrs={"raw": n_raw})
            ctx.tracer.spans[-1]["rows_out"] = n_snap
            rec["replay_s"].append(time.monotonic() - t0)

        t1 = time.monotonic()
        ctx.call("sinks.snapshot.write", lambda: write_binlog_files(snap, snap_dir).collect())
        rec["snap_write_s"] = time.monotonic() - t1
        snap.unpersist()

        t2 = time.monotonic()
        d = self.t.diff(v_old if v_old is not None else self.v_old, self.v_new,
                        keep_lineage=True).persist()
        n_diff = ctx.call("lake.diff", d.count)
        ctx.call("sinks.netchange.write", lambda: write_netchange_binlog_files(
            d, nc_dir, max_file_bytes=self.MAX_FILE_BYTES, compress=True).collect())
        d.unpersist()
        ctx.call("sinks.consolidate",
                 lambda: consolidate_netchange_exports(spark, nc_dir).collect())
        conn = RecordingConnection()
        applied = ctx.call("sinks.apply", apply_binlog_dir, lambda: conn, nc_dir)
        rec["export_s"] = time.monotonic() - t2

        t3 = time.monotonic()
        snap_back = ctx.call("sinks.snapshot.parse",
                             lambda: read_binlog_files(spark, snap_dir).toPandas())
        nc_back = ctx.call("sinks.netchange.parse",
                           lambda: read_netchange_binlog_files(spark, nc_dir).toPandas())
        rec["parse_s"] = time.monotonic() - t3

        rec.update(
            n_snap=n_snap, n_diff=n_diff, snap_back=snap_back, nc_back=nc_back,
            conn=conn, applied=applied, nc_dir=nc_dir,
            snap_bytes=_dir_bytes(snap_dir), nc_bytes=_dir_bytes(nc_dir),
            nc_files=sum(len(ns) for _, _, ns in os.walk(nc_dir)),
        )
        return rec

    def run(self) -> None:
        ctx = self.ctx
        cycles = []
        deadline = time.monotonic() + ctx.seconds
        while not cycles or time.monotonic() < deadline:
            cycles.append(self._cycle(str(len(cycles))))
        n = self.log.n_raw
        ctx.e2e["events_per_s"] = median([n / r for c in cycles for r in c["replay_s"]])
        ctx.e2e["commit_s_p50"] = median([c["export_s"] for c in cycles])
        ctx.e2e["readback_rows_per_s"] = median(
            [(len(c["snap_back"]) + len(c["nc_back"])) / c["parse_s"] for c in cycles]
        )
        c = cycles[-1]
        ctx.e2e["out_bytes_per_row"] = (c["snap_bytes"] + c["nc_bytes"]) / max(
            len(c["snap_back"]) + len(c["nc_back"]), 1)
        ctx.info.update({
            "replay_s": [c["replay_s"] for c in cycles],
            "export_s": [c["export_s"] for c in cycles],
            "parse_s": [c["parse_s"] for c in cycles],
            "cycles": len(cycles), "snap_rows": c["n_snap"], "diff_rows": c["n_diff"],
            "sinks.netchange.files": c["nc_files"], "sinks.netchange.bytes": c["nc_bytes"],
            "sinks.apply.statements": c["applied"].statements,
            "sinks.apply.transactions": c["applied"].transactions,
        })
        self.cycles = cycles

    def probes(self) -> None:
        ctx = self.ctx
        _resume(ctx, self.t, lambda: run_ingest(ctx.spark, self.log.path, self.t,
                                               epoch_size=self.sz["epoch"]))
        lat = _lookups(ctx, self.t, _lookup_keys(ctx, self.want, N_LOOKUPS), self.want, warm=3)
        ctx.e2e["lookup_s_p50"] = median(lat)
        ctx.info["lookup_s"] = lat
        want_snap = self.want
        diff_cols = ["repo", "path", "diff_op", "old_content", "new_content", "new_commit"]
        for i, c in enumerate(self.cycles):
            back = c["snap_back"].copy()
            back["content_sha256"] = oracle.sha256_col(back["content"])
            ctx.check("snapshot_parse_back",
                      oracle.mismatches(back, want_snap, oracle.SNAPSHOT_KEY))
            ctx.check("netchange_parse_back",
                      oracle.mismatches(c["nc_back"], self.want_diff, diff_cols))
            stmts, txns = _expected_apply(c["nc_dir"])
            conn, rep = c["conn"], c["applied"]
            # the stub also sees each BEGIN and each packet-size change
            ctx.check("apply_counts", int(
                (stmts, txns) != (rep.statements, rep.transactions)
                or len(conn.statements) != rep.statements + rep.transactions + rep.packet_growths
                or conn.commits != rep.transactions
            ))
            if i == 0:
                ctx.digests["snapshot_parse_back"] = oracle.digest(back, oracle.SNAPSHOT_KEY)
                ctx.digests["netchange_parse_back"] = oracle.digest(c["nc_back"], diff_cols)

    def traced_extra(self) -> None:
        """The replays already run the scan and collapse on their own."""


WORKLOADS = {
    "trickle_backup": TrickleBackup,
    "compact_export": CompactExport,
}
