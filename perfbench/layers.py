"""Per-layer metrics of a traced run, from its spans, IO counters and
Spark event log. Each name is reported on every workload; a layer the
workload does not exercise reads 0. README.md maps each to the
end-to-end metric it should move.
"""

from __future__ import annotations

from collections import Counter

from perfbench.trace import IO_KINDS, EventLog, median, merge_phases, tsum

LAYER_UNITS = {
    "engine.plan_s": "s",
    "engine.epochs": "count",
    "engine.resume_s": "s",
    "sources.scan_rows_per_event": "ratio",
    "sources.scan_bytes": "B",
    "operators.collapse.shuffle_bytes": "B",
    "operators.collapse.rows_out_per_event": "ratio",
    "lake.merge_s": "s",
    "lake.merge.stats_s": "s",
    "lake.merge.state_read_rows": "count",
    "lake.merge.shuffle_bytes": "B",
    "lake.merge.write_s": "s",
    "lake.merge.changes_write_s": "s",
    "lake.merge.spill_bytes": "B",
    "lake.merge.task_skew": "ratio",
    "lake.merge.jobs_per_epoch": "count",
    "lake.merge.rows_written_per_row_in": "ratio",
    **{f"lake.io.ops_per_epoch.{k}": "count" for k in IO_KINDS},
    "lake.io.s_per_epoch": "s",
    "lake.commit.conflicts": "count",
    "lake.ddl_s": "s",
    "lake.lookup.files_read": "count",
    "lake.diff_s": "s",
    "lake.bytes_written_per_event": "B",
    "sinks.snapshot.write_s": "s",
    "sinks.snapshot.parse_s": "s",
    "sinks.netchange.write_s": "s",
    "sinks.netchange.parse_s": "s",
    "sinks.netchange.files": "count",
    "sinks.netchange.bytes": "B",
    "sinks.consolidate_s": "s",
    "sinks.apply.s": "s",
    "sinks.apply.statements": "count",
    "sinks.apply.transactions": "count",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.cpu_busy_frac": "ratio",
    "trace.events_per_s": "1/s",
}

def per_layer(ctx, log_dir: str, timed_s: float, cpus: int) -> dict[str, float]:
    log = EventLog(log_dir)
    spans = ctx.tracer.spans
    timed = [s for s in spans if s["phase"] == "timed"]
    by = lambda layer, ss=timed: [s for s in ss if s["layer"] == layer]  # noqa: E731
    gids = lambda ss: {s["gid"] for s in ss}  # noqa: E731
    out = dict.fromkeys(LAYER_UNITS, 0.0)

    ingest = by("engine.run_ingest")
    merges = [s for s in by("lake.merge") if s.get("committed")]
    ddls = by("lake.ddl")
    entries = len(merges) + len(ddls)
    if ingest:
        child = sum(s["s"] for s in by("lake.merge") + ddls)
        out["engine.plan_s"] = (sum(s["s"] for s in ingest) - child) / max(entries, 1)
    out["engine.epochs"] = len(merges)
    out["engine.resume_s"] = median(ctx.info["resume_s"])

    # scan + collapse: the replay itself on compact_export; elsewhere the
    # traced-only re-run of each epoch's read + collapse
    coll = [s for s in spans if s["layer"] == "operators.collapse" and "raw" in s]
    if coll:
        ctasks = log.tasks_of(gids(coll))
        raw = sum(s["raw"] for s in coll)
        out["sources.scan_rows_per_event"] = tsum(ctasks, "input.recordsRead") / raw
        out["sources.scan_bytes"] = tsum(ctasks, "input.bytesRead") / len(coll)
        out["operators.collapse.shuffle_bytes"] = (
            tsum(ctasks, "shuffle.write.bytesWritten") / len(coll)
        )
        out["operators.collapse.rows_out_per_event"] = sum(s["rows_out"] for s in coll) / raw

    if merges:
        phases = [merge_phases(log, s["gid"], s["root"]) for s in merges]
        mtasks = log.tasks_of(gids(merges))
        out["lake.merge_s"] = median(s["s"] for s in merges)
        for k in ("stats_s", "write_s", "changes_write_s", "state_read_rows",
                  "shuffle_bytes", "task_skew"):
            out[f"lake.merge.{k}"] = median(p.get(k, 0.0) for p in phases)
        out["lake.merge.spill_bytes"] = (
            tsum(mtasks, "diskBytesSpilled") + tsum(mtasks, "memoryBytesSpilled")
        ) / len(merges)
        out["lake.merge.jobs_per_epoch"] = len(log.jobs_of(gids(merges))) / len(merges)
        rows_in = sum(s.get("rows_in", 0) for s in merges)
        out["lake.merge.rows_written_per_row_in"] = (
            sum(p.get("rows_written", 0.0) for p in phases) / max(rows_in, 1)
        )
        wtasks = log.tasks_of(gids(merges + ddls))
        out["lake.bytes_written_per_event"] = tsum(wtasks, "output.bytesWritten") / max(
            ctx.info.get("raw_ingested", 1), 1)

    ops = sum((io.ops for io in ctx.ios), start=Counter())
    for k in IO_KINDS:
        out[f"lake.io.ops_per_epoch.{k}"] = ops[k] / max(entries, 1)
    out["lake.io.s_per_epoch"] = sum(io.seconds for io in ctx.ios) / max(entries, 1)
    out["lake.commit.conflicts"] = sum(io.conflicts for io in ctx.ios)
    out["lake.ddl_s"] = sum(s["s"] for s in ddls)

    lookups = [s for s in spans if s["layer"] == "lake.lookup"]
    if lookups:
        files = sum(log.exec_files_read.get(x, 0.0) for x in log.executions_of(gids(lookups)))
        out["lake.lookup.files_read"] = files / len(lookups)

    for layer, key in (
        ("lake.diff", "lake.diff_s"),
        ("sinks.snapshot.write", "sinks.snapshot.write_s"),
        ("sinks.snapshot.parse", "sinks.snapshot.parse_s"),
        ("sinks.netchange.write", "sinks.netchange.write_s"),
        ("sinks.netchange.parse", "sinks.netchange.parse_s"),
        ("sinks.consolidate", "sinks.consolidate_s"),
        ("sinks.apply", "sinks.apply.s"),
    ):
        out[key] = median(s["s"] for s in by(layer))
    for k in ("sinks.netchange.files", "sinks.netchange.bytes",
              "sinks.apply.statements", "sinks.apply.transactions"):
        out[k] = float(ctx.info.get(k, 0.0))

    ttasks = log.tasks_of(gids(timed))
    out["spark.gc_s"] = tsum(ttasks, "jvmGCTime") / 1000.0
    out["spark.jobs"] = len(log.jobs_of(gids(timed)))
    out["spark.tasks"] = len(ttasks)
    out["spark.cpu_busy_frac"] = tsum(ttasks, "executorRunTime") / 1000.0 / (timed_s * cpus)
    out["trace.events_per_s"] = ctx.e2e["events_per_s"]
    return out
