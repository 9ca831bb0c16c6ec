"""Spans around public calls, a counting IO wrapper, and Spark event-log
attribution of jobs, tasks and SQL executions to those spans.

Every span records its wall time. In a traced run each span also sets a
Spark job group ``<layer>#<n>``, so the event log attributes every job to
the innermost public call that issued it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from mysql_binlog_spark.lake.table import LakeTable


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self.phase = "setup"

    @contextmanager
    def span(self, layer: str, **attrs):
        self._n += 1
        rec = {"layer": layer, "gid": f"{layer}#{self._n}", "phase": self.phase, **attrs}
        rec["parent"] = self._stack[-1]["gid"] if self._stack else None
        if self.traced:
            self.sc.setJobGroup(rec["gid"], layer)
        self._stack.append(rec)
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["s"] = time.monotonic() - t0
            self._stack.pop()
            self.spans.append(rec)
            if self.traced:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["gid"], self._stack[-1]["layer"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def of(self, layer: str, **match) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and all(s.get(k) == v for k, v in match.items())
        ]


class TimedLakeTable(LakeTable):
    """LakeTable whose eager public writers run inside spans, so the
    epoch calls ``run_ingest`` makes are timed from outside the engine."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        self.tracer = tracer
        super().__init__(*args, **kwargs)

    def merge(self, batch, epoch, *args, **kwargs):
        with self.tracer.span("lake.merge", epoch=epoch, root=self.root) as rec:
            res = super().merge(batch, epoch, *args, **kwargs)
            rec["committed"] = res.committed
            rec["rows_in"] = res.rows_in
            return res

    def apply_repo_ddl(self, epoch, *args, **kwargs):
        with self.tracer.span("lake.ddl", epoch=epoch) as rec:
            res = super().apply_repo_ddl(epoch, *args, **kwargs)
            rec["committed"] = res.committed
            return res


_IO_KINDS = {
    "read_text": "read", "read_bytes": "read",
    "write_text": "write", "write_bytes": "write",
    "create_exclusive": "create",
    "list_names": "list", "walk_files": "list",
    "exists": "stat", "isdir": "stat", "mtime": "stat",
    "delete": "delete", "makedirs": "mkdir",
}
IO_KINDS = sorted(set(_IO_KINDS.values()))


class CountingIO:
    """Delegating table-metadata IO that counts and times each call by
    kind; a ``FileExistsError`` from ``create_exclusive`` is a lost
    commit race."""

    def __init__(self, inner):
        self._inner = inner
        self.ops: Counter = Counter()
        self.seconds = 0.0
        self.conflicts = 0

    def __getattr__(self, name):
        fn = getattr(self._inner, name)
        kind = _IO_KINDS.get(name)
        if kind is None:
            return fn

        def counted(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            except FileExistsError:
                if name == "create_exclusive":
                    self.conflicts += 1
                raise
            finally:
                self.seconds += time.monotonic() - t0
                self.ops[kind] += 1

        return counted


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _acc(task_end: dict) -> dict[str, float]:
    out = {}
    for a in task_end.get("Task Info", {}).get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(a.get("Update") or 0)
            except (TypeError, ValueError):
                pass
    return out


class EventLog:
    """Jobs, tasks and SQL executions of one application, keyed by the
    span (job group) that issued them."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        self.job_gid: dict[int, str] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []  # task metrics + stage, job, gid
        self.exec_span: dict[int, tuple[float, float]] = {}
        self.exec_plan: dict[int, str] = {}
        self._files_read_ids: set[int] = set()
        self.exec_files_read: dict[int, float] = defaultdict(float)
        with open(files[0]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    self.job_gid[jid] = props.get("spark.jobGroup.id") or ""
                    if props.get("spark.sql.execution.id") is not None:
                        self.job_exec[jid] = int(props["spark.sql.execution.id"])
                    for sid in e.get("Stage IDs", []):
                        self.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = self.stage_job.get(e["Stage ID"])
                    rec = _acc(e)
                    rec["stage"] = e["Stage ID"]
                    rec["job"] = jid
                    rec["gid"] = self.job_gid.get(jid, "")
                    self.tasks.append(rec)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    xid = e["executionId"]
                    self.exec_span[xid] = (e["time"] / 1000.0, e["time"] / 1000.0)
                    self.exec_plan[xid] = e.get("physicalPlanDescription", "")
                    self._plan_metrics(e.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._plan_metrics(e.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e.get("accumUpdates", []):
                        if acc_id in self._files_read_ids:
                            self.exec_files_read[e["executionId"]] += float(value)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    xid = e["executionId"]
                    if xid in self.exec_span:
                        self.exec_span[xid] = (self.exec_span[xid][0], e["time"] / 1000.0)

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == "number of files read":
                self._files_read_ids.add(m["accumulatorId"])
        for child in node.get("children", []):
            self._plan_metrics(child)

    def tasks_of(self, gids: set[str]) -> list[dict]:
        return [t for t in self.tasks if t["gid"] in gids]

    def jobs_of(self, gids: set[str]) -> list[int]:
        return [j for j, g in self.job_gid.items() if g in gids]

    def executions_of(self, gids: set[str]) -> set[int]:
        return {self.job_exec[j] for j in self.jobs_of(gids) if j in self.job_exec}


def tsum(tasks: list[dict], key: str) -> float:
    return sum(t.get(key, 0.0) for t in tasks)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def merge_phases(log: EventLog, merge_gid: str, lake_root: str) -> dict[str, float]:
    """Split one merge call's SQL executions into phases by what they do:
    a data-file write (``<root>/data``), a change-file write
    (``<root>/changes``), or the pre-write stats action."""
    out = defaultdict(float)
    stages_write = defaultdict(list)
    for xid in log.executions_of({merge_gid}):
        plan = log.exec_plan.get(xid, "")
        t0, t1 = log.exec_span.get(xid, (0.0, 0.0))
        if f"{lake_root}/changes" in plan:
            phase = "changes_write"
        elif f"{lake_root}/data" in plan and "InsertIntoHadoopFsRelationCommand" in plan:
            phase = "write"
        else:
            phase = "stats"
        out[f"{phase}_s"] += t1 - t0
        if phase == "write":
            jobs = {j for j, x in log.job_exec.items() if x == xid}
            for t in log.tasks:
                if t["job"] in jobs:
                    stages_write[t["stage"]].append(t)
    wtasks = [t for ts in stages_write.values() for t in ts]
    out["state_read_rows"] = tsum(wtasks, "input.recordsRead")
    out["shuffle_bytes"] = tsum(wtasks, "shuffle.write.bytesWritten")
    out["rows_written"] = tsum(wtasks, "output.recordsWritten")
    if stages_write:
        big = max(stages_write.values(), key=lambda ts: tsum(ts, "executorRunTime"))
        runs = [t.get("executorRunTime", 0.0) for t in big]
        med = median(runs)
        out["task_skew"] = max(runs) / med if med > 0 else 1.0
    return dict(out)
