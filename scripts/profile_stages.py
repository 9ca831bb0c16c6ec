"""Stage-level scaling profile: run the replay, the ingest or one
``__spark_entry__`` contract query with Spark event logs on, then print
per-stage wall time and task counts, so the non-scaling stages are
identifiable instead of guessed.

Usage: python scripts/profile_stages.py <cpus> [replay|ingest] [n_events]
       python scripts/profile_stages.py <cpus> query <name> [sf_dir]
       python scripts/profile_stages.py eventlog <eventlog-dir> [job-group-prefix]

``query`` mode collects ``queries()[name](spark, sf_dir)``; ``sf_dir``
defaults to the sf0.01 test data, as in ``scripts/check_contract.py``.

``eventlog`` mode runs nothing: it reads an existing event log (e.g.
perfbench's ``.perfbench/results/*.eventlog``) and prints, per job group
whose id starts with the prefix (perfbench spans are ``<layer>#<n>``),
each job's start and end offset from the group's first job, the task
count of each stage it ran, and the jobless gap before it: the time
from the end of the group's earlier jobs to its start.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _events(evdir: str):
    """The JSON events of every event-log file under ``evdir``."""
    paths = [
        p
        for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def timeline(events, prefix: str = "") -> dict[str, list[dict]]:
    """Job group -> its jobs in start order, each ``{"job", "start_ms",
    "end_ms", "gap_ms", "stages"}``. Offsets count from the group's first
    job start; ``gap_ms`` is the time between the latest end among the
    group's earlier jobs and this job's start (0 when they overlap, None
    for the first job); ``stages`` maps each stage the job ran (skipped
    stages never complete) to its task count."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            if not gid.startswith(prefix):
                continue
            jid = ev["Job ID"]
            jobs[jid] = {"job": jid, "gid": gid, "start": ev["Submission Time"],
                         "end": None, "stages": {}}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            jid = stage_job.get(si["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"][si["Stage ID"]] = si["Number of Tasks"]
    groups: dict[str, list[dict]] = {}
    for j in sorted(jobs.values(), key=lambda j: (j["start"], j["job"])):
        groups.setdefault(j["gid"], []).append(j)
    out: dict[str, list[dict]] = {}
    for gid, js in groups.items():
        t0, ended, rows = js[0]["start"], None, []
        for j in js:
            rows.append({
                "job": j["job"],
                "start_ms": j["start"] - t0,
                "end_ms": None if j["end"] is None else j["end"] - t0,
                "gap_ms": None if ended is None else max(0, j["start"] - ended),
                "stages": j["stages"],
            })
            if j["end"] is not None:
                ended = j["end"] if ended is None else max(ended, j["end"])
        out[gid] = rows
    return out


def print_timeline(evdir: str, prefix: str = "") -> None:
    for gid, rows in timeline(_events(evdir), prefix).items():
        print(gid)
        for r in rows:
            gap = "-" if r["gap_ms"] is None else f"{r['gap_ms']}"
            end = "?" if r["end_ms"] is None else f"+{r['end_ms']}"
            stages = " ".join(f"{sid}:{n}" for sid, n in sorted(r["stages"].items()))
            print(f"  job {r['job']:5d}  +{r['start_ms']} .. {end} ms  "
                  f"gap {gap} ms  stages(tasks) {stages}")


def main() -> None:
    if sys.argv[1] == "eventlog":
        print_timeline(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "")
        return
    cpus = int(sys.argv[1])
    job = sys.argv[2] if len(sys.argv) > 2 else "replay"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    from mysql_binlog_spark.session import get_spark

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    t0 = time.monotonic()
    if job == "query":
        import __spark_entry__ as entrymod

        name = sys.argv[3]
        sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.01"
        res = {"query": name, "rows": len(entrymod.queries()[name](spark, sf_dir).collect())}
    else:
        from bench import bench_ingest, bench_replay

        n_events = int(sys.argv[3]) if len(sys.argv) > 3 else 32_000_000
        res = bench_ingest(spark, n_events, epochs=2) if job == "ingest" else bench_replay(spark, n_events)
    wall = time.monotonic() - t0
    spark.stop()

    stages: dict[int, dict] = {}
    for ev in _events(evdir):
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            stages[sid] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "tasks": si["Number of Tasks"],
                "wall_ms": (comp - sub) if sub and comp else None,
            }

    print(json.dumps({"cpus": cpus, "job": job, "wall": round(wall, 1), "res": res}))
    total = sum(s["wall_ms"] or 0 for s in stages.values())
    for sid in sorted(stages, key=lambda i: -(stages[i]["wall_ms"] or 0)):
        s = stages[sid]
        if (s["wall_ms"] or 0) < total * 0.02:
            continue
        print(f"stage {sid:4d} {s['wall_ms']/1000.0:7.1f}s tasks={s['tasks']:4d} {s['name']}")


if __name__ == "__main__":
    main()
