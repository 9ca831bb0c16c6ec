"""M2/M3/M4: epoch-fenced MERGE into the lake table, resume from checkpoint,
exactly-once under replay, schema evolution, and bucketed copy-on-write."""

from __future__ import annotations

import pandas as pd
import pytest

from mysql_binlog_spark.changelog.oracle import oracle_snapshot_from_pandas
from mysql_binlog_spark.engine.pipeline import run_ingest, table_snapshot
from mysql_binlog_spark.lake.table import LakeTable

SNAP_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


def _snap(table):
    return (
        table_snapshot(table)
        .toPandas()[SNAP_COLS]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.fixture()
def lake(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)


def test_epoch_ingest_matches_oracle(spark, small_changelog, lake):
    report = run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    assert report.epochs_run == 5
    # rows_in counts normalized changes: each rename expands to D+I
    n_renames = int(small_changelog["pandas"]["new_path"].notna().sum())
    assert report.events_in == 5000 + n_renames
    want = oracle_snapshot_from_pandas(small_changelog["pandas"])
    pd.testing.assert_frame_equal(_snap(lake), want, check_dtype=False)


def test_replay_is_fenced_noop(spark, small_changelog, lake):
    run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    v1 = lake.current_version()
    report2 = run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    assert report2.epochs_run == 0
    assert lake.current_version() == v1  # no new snapshots
    want = oracle_snapshot_from_pandas(small_changelog["pandas"])
    pd.testing.assert_frame_equal(_snap(lake), want, check_dtype=False)


def test_resume_after_crash(spark, small_changelog, lake):
    # crash after 2 of 5 epochs
    r1 = run_ingest(
        spark, small_changelog["path"], lake, epoch_size=1000, stop_after_epochs=2
    )
    assert r1.epochs_run == 2
    assert lake.high_watermark() == 1999
    # restart: picks up from the committed high-watermark
    r2 = run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    assert r2.epochs_run == 3
    want = oracle_snapshot_from_pandas(small_changelog["pandas"])
    pd.testing.assert_frame_equal(_snap(lake), want, check_dtype=False)


def test_checkpoints_lineage(spark, small_changelog, lake):
    run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    cp = lake.checkpoints().toPandas()
    assert set(cp["status"]) == {"success"}
    assert sorted(cp["epoch"].unique()) == [0, 1, 2, 3, 4]
    n_renames = int(small_changelog["pandas"]["new_path"].notna().sum())
    assert cp["rows_in"].sum() == 5000 + n_renames
    # per-epoch hwm never exceeds the epoch's seq upper bound
    assert (cp.groupby("epoch")["hwm_seq"].max() <= [999, 1999, 2999, 3999, 4999]).all()


def test_schema_evolution_mid_stream(spark, small_changelog, lake):
    """lang is NULL before evolution_seq (2500) and appears after: epoch 0-2
    commit a lang-less... actually lang column always exists in our events,
    but files written pre-evolution hold only NULLs; the invariant checked
    is that old state rows read back as NULL lang and post-evolution writes
    carry it — additive schema-on-read (SURVEY §2.9 T8)."""
    run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    snap = _snap(lake)
    ev = small_changelog["pandas"]
    spec = small_changelog["spec"]
    # keys last written before the evolution boundary must have NULL lang
    last_write = ev[ev.op != "D"].groupby(["repo", "path"])["seq"].max()
    merged = snap.merge(
        last_write.rename("last_seq"), left_on=["repo", "path"], right_index=True
    )
    pre = merged[merged.last_seq < spec.evolution_seq]
    post = merged[merged.last_seq >= spec.evolution_seq]
    assert len(pre) > 0 and len(post) > 0
    assert pre["lang"].isna().all()
    assert post["lang"].notna().all()


def test_cow_touches_only_affected_buckets(spark, small_changelog, lake):
    run_ingest(spark, small_changelog["path"], lake, epoch_size=2500)
    m1 = lake.read_manifest()
    # a tiny follow-up batch touching few keys
    import pandas as pd_

    batch = spark.createDataFrame(
        pd_.DataFrame(
            [
                {
                    "repo": "repo-0000",
                    "path": "zz/new.py",
                    "seq": 10_000,
                    "op": "I",
                    "commit": "f" * 40,
                    "lang": "python",
                    "content": "hello",
                }
            ]
        )
    )
    res = lake.merge(batch, epoch=99)
    assert res.committed and res.buckets_touched == 1
    m2 = lake.read_manifest()
    unchanged = [
        b for b in m1["buckets"] if m1["buckets"][b] == m2["buckets"].get(b)
    ]
    # every bucket except the one touched kept its exact data files
    assert len(m1["buckets"]) - len(unchanged) <= 1


def test_delete_only_batch_can_empty_bucket(spark, lake):
    df1 = spark.createDataFrame(
        [("r", "p", 1, "I", "c" * 40, None, "body")],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    lake.merge(df1, epoch=0)
    assert _snap(lake).shape[0] == 1
    df2 = spark.createDataFrame(
        [("r", "p", 2, "D", None, None, None)],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    lake.merge(df2, epoch=1)
    assert _snap(lake).shape[0] == 0


def test_high_watermark_is_o1_and_matches_lineage_walk(spark, small_changelog, lake):
    """The head manifest carries running per-source watermarks so the
    streaming fence reads O(1) instead of walking the manifest chain per
    micro-batch; the fast path must equal the lineage-walk answer."""
    run_ingest(spark, small_changelog["path"], lake, epoch_size=1000)
    m = lake.read_manifest()
    assert "hwm" in m["sources"][""]
    fast = lake.high_watermark()
    walk = max(
        c["hwm_seq"] for c in lake._checkpoint_rows() if c["hwm_seq"] is not None
    )
    assert fast == walk == 4999
    assert lake.high_watermark(source="") == 4999
    assert lake.high_watermark(source="nope") == -1
