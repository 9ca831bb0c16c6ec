"""bench.py's last stdout line must survive a reader that keeps only the
last 2,000 characters of output."""

from __future__ import annotations

import json

import bench


def test_compact_last_line_fits_and_roundtrips():
    load = {"1m": 123.45, "5m": 123.45, "15m": 123.45}
    run = {
        "n_events": 123_456_789,
        "epochs": 1234,
        "wall_sec": 123456.789,
        "events_per_sec": 12345678.9,
        "median_events_per_sec": 12345678.9,
        "reps": 99,
    }
    # every field main() can set, each at a wide value
    result = {
        "sf": "1000",
        "cpus": 1024,
        "load_start": load,
        "quiet_wait_s": 15.51,
        "busy_at_start": 0.987,
        "load_flag": (
            "CONTAMINATED_START: 1-min load 123.45 > 4.0 before the run "
            "began — timings unreliable"
        ),
        "ingest": run,
        "events_per_sec": 12345678.9,
        "load_after_ingest": load,
        "replay": {k: run[k] for k in ("n_events", "wall_sec", "events_per_sec")},
        "queries": {q: 123456.789 for q in bench.BENCH_QUERIES},
        "query_load_1m": {q: 123.45 for q in bench.BENCH_QUERIES},
        "query_reps": 99,
        "load_end": load,
        "metric": "cdc_replay_plus_query_suite_seconds",
        "value": 123456789.123,
        "unit": "sec",
    }
    assert len(json.dumps(result)) > 2000  # the full line alone overflows

    line = json.dumps(bench.compact_result(result))
    assert len(line) < 2000
    back = json.loads(line)
    assert back == {k: result[k] for k in bench.COMPACT_KEYS}
    assert set(back["queries"]) == set(bench.BENCH_QUERIES)
