"""Bucket-count (partition) evolution: rebucket() rewrites state into a
new hash layout as one committed version; stale writer handles re-adopt
the new count per commit attempt."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mysql_binlog_spark.changelog import ChangelogSpec
from mysql_binlog_spark.changelog.generator import generate_events_pandas
from mysql_binlog_spark.engine.pipeline import run_ingest, table_snapshot
from mysql_binlog_spark.lake.table import LakeTable

SNAP_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


def _snap(t):
    return (
        table_snapshot(t)
        .toPandas()[SNAP_COLS]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.fixture()
def ingested(spark, tmp_path):
    ev = generate_events_pandas(ChangelogSpec(n_events=3000, seed=33, n_repos=6))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4, track_changes=True)
    run_ingest(spark, p, t, epoch_size=1000)
    return {"table": t, "events_path": p, "root": str(tmp_path / "lake")}


def test_rebucket_preserves_state_and_history(spark, ingested):
    t = ingested["table"]
    before = _snap(t)
    v_pre = t.current_version()
    pre_files = set()
    for fl in t.read_manifest(v_pre)["buckets"].values():
        pre_files.update(fl)

    v_post = t.rebucket(16)
    assert v_post == v_pre + 1
    m = t.read_manifest()
    assert m["n_buckets"] == 16 and t.n_buckets == 16
    assert len(m["buckets"]) <= 16 and len(m["buckets"]) > 4

    pd.testing.assert_frame_equal(_snap(t), before)          # state identical
    # a rebucket changes no logical row: incremental diff across it is empty
    assert t.diff(v_pre, v_post).count() == 0
    # time travel to the pre-rebucket layout still works
    assert t.read_state(version=v_pre).count() == len(before)
    # fences survived (next epoch id unaffected)
    assert t.epochs_applied() == [0, 1, 2]

    # new merges land in the new layout; snapshot stays oracle-true
    df = spark.createDataFrame(
        [("zzz-repo", "p0", 10_000, "I", "c" * 40, None, "fresh-body")],
        "repo string, path string, seq long, op string, commit string, "
        "lang string, content string",
    )
    t.merge(df, epoch=3)
    after = _snap(t)
    assert len(after) == len(before) + 1
    # bloom pruning answers through the NEW layout
    cand = t._buckets_maybe_containing(t.read_manifest(), "zzz-repo")
    assert cand
    # old files become reclaimable once out of retention (floor the grace:
    # these were written moments ago)
    removed = set(t.vacuum(keep_versions=1, orphan_grace_sec=1e9))
    assert pre_files <= removed


def test_stale_writer_handle_adopts_rebucket(spark, ingested):
    """A second open handle (simulating a concurrent writer) merges AFTER
    another handle rebucketed: its epoch must land in the NEW layout."""
    t = ingested["table"]
    t2 = LakeTable(spark, ingested["root"], track_changes=True)
    assert t2.n_buckets == 4
    t.rebucket(8)
    df = spark.createDataFrame(
        [("late-repo", "p9", 20_000, "I", "d" * 40, None, "late-body")],
        "repo string, path string, seq long, op string, commit string, "
        "lang string, content string",
    )
    t2.merge(df, epoch=3)
    assert t2.n_buckets == 8  # adopted mid-flight
    m = t2.read_manifest()
    assert m["n_buckets"] == 8
    got = _snap(t2)
    assert ("late-repo" == got.repo).sum() == 1


def test_rebucket_empty_table_adopts_count(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    t.rebucket(32)
    assert t.n_buckets == 32
    with pytest.raises(ValueError):
        t.rebucket(0)


def test_stale_handle_maintenance_keeps_rebucket_count(spark, ingested):
    """A maintenance commit (vacuum, compaction) from a handle opened
    before another handle rebucketed must carry the NEW bucket count:
    stamping its stale count would make every later open hash keys into
    the wrong buckets."""
    t = ingested["table"]
    t2 = LakeTable(spark, ingested["root"], track_changes=True)
    before = _snap(t)
    t.rebucket(8)
    t2.vacuum(keep_versions=100, change_retention_versions=1)
    assert t2.read_manifest()["n_buckets"] == 8
    t3 = LakeTable(spark, ingested["root"])
    assert t3.n_buckets == 8
    r = before.iloc[0]
    assert t3.lookup(r["repo"], r["path"]).count() == 1


def test_rebucket_table_with_no_live_row(spark, tmp_path):
    """A table whose every key was deleted stages no file: the rebucket
    still commits the new count, and the table stays writable."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)

    def rows(*r):
        return spark.createDataFrame(
            list(r), "repo string, path string, seq long, op string, commit string, "
            "lang string, content string",
        )

    t.merge(rows(("r", "p", 1, "I", "c", None, "x")), epoch=0)
    t.merge(rows(("r", "p", 2, "D", None, None, None)), epoch=1)
    assert t.rebucket(8) == 3
    assert t.n_buckets == 8 and t.read_state().count() == 0
    t.merge(rows(("r", "q", 3, "I", "c", None, "y")), epoch=2)
    assert [r["path"] for r in t.lookup("r", "q").collect()] == ["q"]
