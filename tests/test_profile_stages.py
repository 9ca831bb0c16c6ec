"""``scripts/profile_stages.py eventlog``: the per-job-group timeline
read from a hand-written Spark event log."""

from __future__ import annotations

import importlib.util
import json
import os

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "profile_stages.py")
_spec = importlib.util.spec_from_file_location("profile_stages", _SCRIPT)
profile_stages = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(profile_stages)


def _job(jid, gid, t, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": gid}}


def _end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t,
            "Job Result": {"Result": "JobSucceeded"}}


def _stage(sid, tasks):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Number of Tasks": tasks}}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
    _job(0, "lake.merge#1", 1000, [0]), _stage(0, 3), _end(0, 1200),
    # stage 2 is skipped (its shuffle output is reused): it never completes
    _job(1, "lake.merge#1", 1250, [1, 2]), _stage(1, 4), _end(1, 1300),
    # two overlapped jobs after a 300 ms jobless gap; the second starts
    # before the first ends, so its gap is 0
    _job(2, "lake.merge#1", 1600, [3]), _job(3, "lake.merge#1", 1610, [4]),
    _stage(3, 8), _end(2, 1900), _stage(4, 4), _end(3, 1800),
    # the gap is measured from the LATEST end among earlier jobs (1900)
    _job(4, "lake.merge#1", 1950, [5]), _stage(5, 1), _end(4, 2000),
    _job(5, "lake.lookup#1", 3000, [6]), _stage(6, 1), _end(5, 3050),
    _job(6, "", 4000, [7]), _stage(7, 2), _end(6, 4010),
]


def test_timeline_offsets_gaps_and_stage_tasks(tmp_path, capsys):
    logdir = tmp_path / "app.eventlog"
    logdir.mkdir()
    (logdir / "local-1").write_text("".join(json.dumps(e) + "\n" for e in EVENTS))

    merge = profile_stages.timeline(profile_stages._events(str(logdir)), "lake.merge")
    assert list(merge) == ["lake.merge#1"]
    assert merge["lake.merge#1"] == [
        {"job": 0, "start_ms": 0, "end_ms": 200, "gap_ms": None, "stages": {0: 3}},
        {"job": 1, "start_ms": 250, "end_ms": 300, "gap_ms": 50, "stages": {1: 4}},
        {"job": 2, "start_ms": 600, "end_ms": 900, "gap_ms": 300, "stages": {3: 8}},
        {"job": 3, "start_ms": 610, "end_ms": 800, "gap_ms": 0, "stages": {4: 4}},
        {"job": 4, "start_ms": 950, "end_ms": 1000, "gap_ms": 50, "stages": {5: 1}},
    ]
    every = profile_stages.timeline(profile_stages._events(str(logdir)))
    assert list(every) == ["lake.merge#1", "lake.lookup#1", ""]
    assert every["lake.lookup#1"] == [
        {"job": 5, "start_ms": 0, "end_ms": 50, "gap_ms": None, "stages": {6: 1}}
    ]

    profile_stages.print_timeline(str(logdir), "lake.lookup")
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "lake.lookup#1" and "+0 .. +50 ms" in out[1]
    assert "gap - ms" in out[1] and out[1].endswith("6:1")
