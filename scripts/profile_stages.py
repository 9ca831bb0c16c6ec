"""Stage-level scaling profile: run the replay, the ingest or one
``__spark_entry__`` contract query with Spark event logs on, then print
per-stage wall time and task counts, so the non-scaling stages are
identifiable instead of guessed.

Usage: python scripts/profile_stages.py <cpus> [replay|ingest] [n_events]
       python scripts/profile_stages.py <cpus> query <name> [sf_dir]

``query`` mode collects ``queries()[name](spark, sf_dir)``; ``sf_dir``
defaults to the sf0.01 test data, as in ``scripts/check_contract.py``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
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
    paths = [
        p
        for p in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
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
