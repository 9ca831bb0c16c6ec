"""Regression tests for the round-2 ADVICE findings: diff ordering under
DDL-epoch seq ties, bounded-ingest planning past a DDL, truncate lineage
through renames onto existing repos, track_changes stickiness, and the
packed wire-format version byte."""

from __future__ import annotations

import pandas as pd
import pytest

from mysql_binlog_spark.changelog.oracle import oracle_snapshot_from_pandas
from mysql_binlog_spark.engine.pipeline import plan_entries, run_ingest, table_snapshot
from mysql_binlog_spark.lake.table import LakeTable
from mysql_binlog_spark.operators.ddl import DdlOp, snapshot_with_ddl

EV_DDL = (
    "repo string, path string, seq long, op string, commit string, "
    "lang string, content string"
)


def _rows(spark, rows):
    return spark.createDataFrame(rows, EV_DDL)


def _write_events(ev: pd.DataFrame, path: str) -> None:
    """Write an events pandas frame as parquet with the changelog's string
    columns typed explicitly (all-None columns must not infer as int)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field("seq", pa.int64())
        if c == "seq"
        else pa.field(c, pa.string())
        for c in ev.columns
    ]
    pq.write_table(
        pa.Table.from_pandas(ev, schema=pa.schema(fields), preserve_index=False),
        path,
    )


# ---------------------------------------------------------------------------
# ADVICE medium: plan_entries must terminate when a DDL sits past max_seq
# ---------------------------------------------------------------------------


def test_plan_entries_ddl_beyond_bound_terminates():
    entries = plan_entries(
        max_seq=100, epoch_size=50, ddl_ops=[DdlOp(500, "truncate", "r1")]
    )
    assert [e[0] for e in entries] == ["merge", "merge", "merge"]
    assert [(e[2], e[3]) for e in entries] == [(-1, 49), (49, 99), (99, 100)]
    # a DDL exactly at the bound still applies (it is within the range)
    entries = plan_entries(
        max_seq=100, epoch_size=50, ddl_ops=[DdlOp(100, "truncate", "r1")]
    )
    kinds = [e[0] for e in entries]
    assert "ddl" in kinds  # applied, after the merge flushing rows < 100
    assert kinds.index("ddl") == kinds.index("merge") + 2


def test_run_ingest_bounded_below_ddl(spark, tmp_path):
    """run_ingest(max_seq=...) below a later DDL event must return, apply
    only the in-range rows, and ignore the out-of-range DDL."""
    ev = pd.DataFrame(
        {
            "repo": ["a", "a", "a"],
            "path": ["p1", "p2", "p3"],
            "seq": [1, 2, 10],
            "op": ["I", "I", "Q"],
            "commit": ["c1", "c2", None],
            "lang": [None, None, None],
            "content": ["x", "y", None],
            "before_content": [None, None, None],
            "new_path": [None, None, None],
            "statement": [None, None, "TRUNCATE TABLE a"],
        }
    )
    path = str(tmp_path / "ev.parquet")
    _write_events(ev, path)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    rep = run_ingest(spark, path, t, epoch_size=100, max_seq=5)
    assert rep.epochs_run >= 1
    snap = table_snapshot(t).toPandas()
    assert sorted(snap["path"]) == ["p1", "p2"]  # truncate NOT applied


# ---------------------------------------------------------------------------
# ADVICE low: truncate lineage — rename of a truncated repo onto an
# EXISTING repo must not kill the target's own pre-existing keys
# ---------------------------------------------------------------------------


@pytest.fixture()
def collision_events():
    return pd.DataFrame(
        {
            "repo": ["r9", "r2", "r2", None, None, "r2"],
            "path": ["p1", "p2", "p3", None, None, "p9"],
            "seq": [1, 2, 3, 4, 6, 5],
            "op": ["I", "I", "I", "Q", "Q", "I"],
            "commit": ["c9", "c2", "c3", None, None, "c5"],
            "lang": [None] * 6,
            "content": ["keep-me", "gone", "gone2", None, None, "revived"],
            "before_content": [None] * 6,
            "new_path": [None] * 6,
            "statement": [
                None, None, None,
                "TRUNCATE TABLE r2",
                "RENAME TABLE r2 TO r9",
                None,
            ],
        }
    )


def test_truncate_then_rename_onto_existing_repo(spark, collision_events):
    """r9/p1 predates the truncate of r2 — it must SURVIVE the rename
    r2->r9 (the truncate watermark belongs to r2's lineage, not r9's);
    r2/p9 (re-insert after the truncate, before the rename) moves to r9."""
    ev = collision_events
    # rows for spark need repo/path non-null on Q rows: use placeholders
    ev = ev.assign(
        repo=ev.repo.fillna("_"), path=ev.path.fillna("_")
    )
    got = (
        snapshot_with_ddl(spark.createDataFrame(ev))
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = oracle_snapshot_from_pandas(ev)
    pd.testing.assert_frame_equal(
        got[want.columns.tolist()], want, check_dtype=False
    )
    assert ("r9", "p1") in set(zip(got.repo, got.path))  # the old bug's victim
    assert ("r9", "p9") in set(zip(got.repo, got.path))
    assert set(got.repo) == {"r9"}


def test_pipeline_and_snapshot_agree_on_collision(spark, collision_events, tmp_path):
    """Pin the two DDL paths (single-pass expression vs sequential
    apply_repo_ddl commits) to each other on the collision stream."""
    ev = collision_events.assign(
        repo=collision_events.repo.fillna("_"),
        path=collision_events.path.fillna("_"),
    )
    path = str(tmp_path / "ev.parquet")
    _write_events(ev, path)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, path, t, epoch_size=2)
    via_pipeline = (
        table_snapshot(t)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    via_single_pass = (
        snapshot_with_ddl(spark.createDataFrame(ev))
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        via_pipeline[via_single_pass.columns.tolist()],
        via_single_pass,
        check_dtype=False,
    )


# ---------------------------------------------------------------------------
# ADVICE high: diff across an insert epoch and a truncate epoch of the
# same repo (change rows with EQUAL seq) must order by (version, seq)
# ---------------------------------------------------------------------------


def test_diff_across_insert_and_truncate_epochs(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4, track_changes=True)
    t.merge(
        _rows(
            spark,
            [
                ("a", "p1", 1, "I", "c1", None, "body1"),
                ("a", "p2", 2, "I", "c2", None, "body2"),
                ("b", "p1", 3, "I", "c3", None, "keep"),
            ],
        ),
        epoch=0,
    )
    t.apply_repo_ddl(1, "truncate", "a")
    v = t.current_version()
    # from v0 (empty): a's keys annihilate (I then D at the SAME seq across
    # epochs); only b survives. The old seq-only ordering could pick the I
    # row as 'last' and resurrect a dead key.
    d_all = t.diff(0, v).toPandas()
    assert set(zip(d_all.repo, d_all.path)) == {("b", "p1")}
    assert list(d_all.diff_op) == ["I"]
    # from v1: a's keys report D with the correct old image
    d_tr = t.diff(v - 1, v).toPandas().sort_values("path")
    assert list(d_tr.repo) == ["a", "a"]
    assert list(d_tr.diff_op) == ["D", "D"]
    assert list(d_tr.old_content) == ["body1", "body2"]
    assert d_tr.new_content.isna().all()


def test_rename_collision_change_rows(spark, tmp_path):
    """Change rows of a rename epoch reflect the actual transitions: D for
    the vacated key, U (not I) when the moved row wins over an existing
    target key, and NOTHING when the pre-existing target wins."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4, track_changes=True)
    t.merge(
        _rows(
            spark,
            [
                ("a", "p1", 10, "I", "ca", None, "a-wins"),
                ("a", "p2", 4, "I", "ca2", None, "a-loses"),
                ("b", "p1", 5, "I", "cb", None, "b-old"),
                ("b", "p2", 9, "I", "cb2", None, "b-stays"),
            ],
        ),
        epoch=0,
    )
    t.apply_repo_ddl(1, "rename", "a", new_repo="b")
    v = t.current_version()
    d = t.diff(v - 1, v).toPandas()
    by_key = {(r.repo, r.path): r for r in d.itertuples()}
    assert by_key[("a", "p1")].diff_op == "D"
    assert by_key[("a", "p2")].diff_op == "D"
    assert by_key[("b", "p1")].diff_op == "U"
    assert by_key[("b", "p1")].old_content == "b-old"
    assert by_key[("b", "p1")].new_content == "a-wins"
    assert ("b", "p2") not in by_key  # pre-existing target won; no change
    # state agrees with the change rows
    snap = table_snapshot(t).toPandas().set_index(["repo", "path"])
    assert snap.loc[("b", "p1"), "content"] == "a-wins"
    assert snap.loc[("b", "p2"), "content"] == "b-stays"


# ---------------------------------------------------------------------------
# ADVICE low: track_changes survives a default reopen
# ---------------------------------------------------------------------------


def test_track_changes_sticky_across_reopen(spark, tmp_path):
    root = str(tmp_path / "lake")
    t1 = LakeTable(spark, root, n_buckets=4, track_changes=True)
    t1.merge(_rows(spark, [("a", "p1", 1, "I", "c", None, "x")]), epoch=0)
    # reopen WITHOUT the flag (the CLI's default open)
    t2 = LakeTable(spark, root)
    assert t2.track_changes is True
    t2.merge(_rows(spark, [("a", "p2", 2, "I", "c", None, "y")]), epoch=1)
    # both epochs recorded change files -> incremental diff, not fallback
    assert t2.read_manifest(t2.current_version())["changes"] is not None
    d = t2.diff(0, t2.current_version()).toPandas()
    assert sorted(d.path) == ["p1", "p2"]


def test_stale_untracked_handle_adopts_tracking(spark, tmp_path):
    """A handle opened before another handle turned change tracking on
    adopts it at its next write, maintenance included, instead of
    stamping it off for every later open."""
    root = str(tmp_path / "lake")
    t1 = LakeTable(spark, root, n_buckets=4)
    t1.merge(_rows(spark, [("a", "p1", 1, "I", "c", None, "x")]), epoch=0)
    t2 = LakeTable(spark, root, track_changes=True)
    t2.merge(_rows(spark, [("a", "p2", 2, "I", "c", None, "y")]), epoch=1)
    t1._commit_maintenance(lambda nxt: None)
    t1.merge(_rows(spark, [("a", "p3", 3, "I", "c", None, "z")]), epoch=2)
    assert LakeTable(spark, root).track_changes is True
    head = t1.current_version()
    assert t1._incremental_change_files(1, head) is not None
    assert sorted(t1.diff(1, head).toPandas().path) == ["p2", "p3"]


# ---------------------------------------------------------------------------
# ADVICE low: packed wire records carry a version byte + length check
# ---------------------------------------------------------------------------


def test_packed_codec_rejects_stale_format(spark):
    from mysql_binlog_spark.sources.binlog_codec import (
        decode_packed_events,
        encode_packed_events,
    )

    ev = pd.DataFrame(
        {
            "seq": [1], "op": ["I"], "repo": ["r"], "path": ["p"],
            "commit": ["c"], "lang": [None], "content": ["x"],
            "before_content": [None], "new_path": [None], "statement": [None],
        }
    )
    rec = encode_packed_events(ev)["record"][0]
    # valid record round-trips
    ok = decode_packed_events(
        spark.createDataFrame(pd.DataFrame({"record": [rec]}))
    ).collect()
    assert ok[0]["repo"] == "r"
    # stale/foreign version byte fails loudly
    stale = bytes([rec[0] ^ 0xFF]) + rec[1:]
    with pytest.raises(Exception, match="wire-format version"):
        decode_packed_events(
            spark.createDataFrame(pd.DataFrame({"record": [stale]}))
        ).collect()
    # truncated record fails loudly (not garbage decode)
    with pytest.raises(Exception, match="header-implied"):
        decode_packed_events(
            spark.createDataFrame(pd.DataFrame({"record": [rec[:-1]]}))
        ).collect()


# ---------------------------------------------------------------------------
# round-3 review: resuming with a WIDER bound must not skip the tail of an
# epoch id a narrower earlier run committed over a shorter range (ordinal
# plan ids + id-only fencing would); the seq-watermark guard re-applies
# exactly the unapplied remainder
# ---------------------------------------------------------------------------


def test_rerun_with_wider_bound_applies_tail(spark, tmp_path):
    ev = pd.DataFrame(
        {
            "repo": ["a"] * 9 + ["a"],
            "path": [f"p{i}" for i in range(1, 10)] + ["p1"],
            "seq": list(range(1, 10)) + [10],
            "op": ["I"] * 9 + ["Q"],
            "commit": [f"c{i}" for i in range(1, 10)] + [None],
            "lang": [None] * 10,
            "content": [f"x{i}" for i in range(1, 10)] + [None],
            "before_content": [None] * 10,
            "new_path": [None] * 10,
            "statement": [None] * 9 + ["TRUNCATE TABLE zzz"],
        }
    )
    path = str(tmp_path / "ev.parquet")
    _write_events(ev, path)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)

    # narrow run: epoch id 0 committed over (-1, 5]
    run_ingest(spark, path, t, epoch_size=100, max_seq=5)
    assert sorted(table_snapshot(t).toPandas()["path"]) == [
        f"p{i}" for i in range(1, 6)
    ]

    # widened run: the re-planned epoch id 0 now covers (-1, 9]; the
    # watermark guard must apply rows 6..9 instead of skipping the id
    rep = run_ingest(spark, path, t, epoch_size=100)
    snap = table_snapshot(t).toPandas()
    assert sorted(snap["path"]) == [f"p{i}" for i in range(1, 10)]

    # and a THIRD identical run is a fenced no-op (no version churn)
    v = t.current_version()
    run_ingest(spark, path, t, epoch_size=100)
    assert t.current_version() == v


def test_rerun_wider_bound_with_ddl_between(spark, tmp_path):
    """Same scenario but the widened region contains a DDL: the remainder
    merge, the barrier cut, and the DDL apply all land correctly."""
    ev = pd.DataFrame(
        {
            "repo": ["a"] * 6,
            "path": ["p1", "p2", "p3", "zz", "p4", "p5"],
            "seq": [1, 2, 3, 4, 6, 7],
            "op": ["I"] * 6,
            "commit": [f"c{i}" for i in range(1, 7)],
            "lang": [None] * 6,
            "content": [f"x{i}" for i in range(1, 7)],
            "before_content": [None] * 6,
            "new_path": [None] * 6,
            "statement": [None] * 6,
        }
    )
    ddl = pd.DataFrame(
        {
            "repo": ["a"], "path": [""], "seq": [5], "op": ["Q"],
            "commit": [None], "lang": [None], "content": [None],
            "before_content": [None], "new_path": [None],
            "statement": ["TRUNCATE TABLE a"],
        }
    )
    full = pd.concat([ev, ddl]).sort_values("seq")
    path = str(tmp_path / "ev.parquet")
    _write_events(full, path)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)

    # narrow run stops below the DDL (id 0 over (-1, 3])
    run_ingest(spark, path, t, epoch_size=100, max_seq=3)
    # widened full run: remainder (3, 4], then the TRUNCATE barrier at 5,
    # then rows 6..7
    run_ingest(spark, path, t, epoch_size=100)
    snap = table_snapshot(t).toPandas()
    # everything below the truncate is gone; only p4/p5 survive
    assert sorted(snap["path"]) == ["p4", "p5"]


def test_stream_maintenance_warns_without_change_retention(
    spark, tmp_path, caplog
):
    """ADVICE round 4: maintain_every on a change-tracked table without
    maintain_change_retention cannot expire manifests (floor stays 0) —
    the stream must say so loudly instead of silently growing metadata."""
    import logging
    import os

    from mysql_binlog_spark.streaming import stream_ingest

    ev_dir = str(tmp_path / "events")
    os.makedirs(ev_dir)
    ev = pd.DataFrame(
        {
            "repo": ["a", "a"], "path": ["p1", "p2"], "seq": [1, 2],
            "op": ["I", "I"], "commit": ["c1", "c2"], "lang": [None, None],
            "content": ["x", "y"], "before_content": [None, None],
            "new_path": [None, None], "statement": [None, None],
        }
    )
    _write_events(ev, os.path.join(ev_dir, "f0.parquet"))
    table = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4,
                      track_changes=True)
    with caplog.at_level(logging.WARNING):
        q = stream_ingest(
            spark, ev_dir, table, checkpoint_dir=str(tmp_path / "ckpt"),
            maintain_every=1,
        )
        q.awaitTermination()
    assert any("maintain_change_retention" in r.message for r in caplog.records)
    # and the untracked / configured cases stay silent
    caplog.clear()
    table2 = LakeTable(spark, str(tmp_path / "lake2"), n_buckets=4,
                       track_changes=True)
    with caplog.at_level(logging.WARNING):
        q = stream_ingest(
            spark, ev_dir, table2, checkpoint_dir=str(tmp_path / "ckpt2"),
            maintain_every=1, maintain_change_retention=8,
        )
        q.awaitTermination()
    assert not any("maintain_change_retention" in r.message
                   for r in caplog.records)
