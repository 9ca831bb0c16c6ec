"""Write path of tracked MERGE and DDL commits: the data-sized bucket
shuffle, the overlapped data and change writes, and the one-listing
staging discovery."""

from __future__ import annotations

import threading
import time

import pandas as pd
import pytest

from mysql_binlog_spark.lake.table import LakeTable

SCHEMA = (
    "repo string, path string, seq long, op string, commit string, "
    "lang string, content string"
)


def _epochs():
    """Three merge epochs over 4 repos x 40 paths (inserts, then updates
    and deletes), keyed so every one of 16 buckets is touched."""
    e0 = [
        (f"r{r}", f"p{i:02d}", r * 100 + i, "I", f"c{r}{i}", None, f"v0-{r}-{i}")
        for r in range(4)
        for i in range(40)
    ]
    e1 = [
        (f"r{r}", f"p{i:02d}", 1000 + r * 100 + i, "U", f"d{r}{i}", None, f"v1-{r}-{i}")
        for r in range(4)
        for i in range(0, 40, 3)
    ]
    e2 = [
        (f"r{r}", f"p{i:02d}", 2000 + r * 100 + i, "D", None, None, None)
        for r in range(4)
        for i in range(1, 40, 5)
    ] + [
        (f"r{r}", f"q{i:02d}", 2500 + r * 100 + i, "I", f"e{r}{i}", None, f"v2-{r}-{i}")
        for r in range(4)
        for i in range(10)
    ]
    return [e0, e1, e2]


def _replay(epochs, truncated: str, renamed: tuple[str, str]) -> dict:
    """Expected final state: last writer wins per key, then the DDLs."""
    state: dict[tuple[str, str], str] = {}
    for rows in epochs:
        for repo, path, _seq, op, _c, _l, content in rows:
            if op == "D":
                state.pop((repo, path), None)
            else:
                state[(repo, path)] = content
    state = {k: v for k, v in state.items() if k[0] != truncated}
    old, new = renamed
    return {((new if r == old else r), p): v for (r, p), v in state.items()}


def _ingest(spark, t: LakeTable):
    for e, rows in enumerate(_epochs()):
        t.merge(spark.createDataFrame(rows, SCHEMA), epoch=e)
    t.apply_repo_ddl(3, "truncate", "r1")
    t.apply_repo_ddl(4, "rename", "r2", new_repo="r9")


def _norm(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)


def test_tracked_commits_write_one_file_per_touched_bucket(spark, tmp_path):
    """Sizing the shuffle from the data must keep each touched bucket in
    one task: every commit, merge or DDL, replaces a rewritten bucket's
    files with exactly one file."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, track_changes=True)
    _ingest(spark, t)
    head = t.current_version()
    assert head == 5
    for v in range(1, head + 1):
        prev = t.read_manifest(v - 1)["buckets"] if v > 1 else {}
        cur = t.read_manifest(v)["buckets"]
        rewritten = {b: fs for b, fs in cur.items() if fs != prev.get(b)}
        assert len(rewritten) >= 2, (v, rewritten)
        assert all(len(fs) == 1 for fs in rewritten.values()), (v, rewritten)
    got = {(r["repo"], r["path"]): r["content"] for r in t.read_state().collect()}
    assert got == _replay(_epochs(), "r1", ("r2", "r9"))
    for a, b in [(0, head), (1, head), (2, 4), (3, 5)]:
        pd.testing.assert_frame_equal(
            _norm(t.diff(a, b)), _norm(t._diff_full(a, b)), check_dtype=False
        )


def test_failed_change_write_commits_nothing(spark, tmp_path, monkeypatch):
    """A change-file write that fails after its jobs ran fails the merge
    before the commit, with no job left running; a rerun converges."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, track_changes=True)
    epochs = _epochs()
    t.merge(spark.createDataFrame(epochs[0], SCHEMA), epoch=0)
    v = t.current_version()
    real = LakeTable._write_change_rows

    def broken(self, manifest, rows):
        real(self, manifest, rows)
        raise OSError("change store went away")

    monkeypatch.setattr(LakeTable, "_write_change_rows", broken)
    with pytest.raises(OSError, match="change store went away"):
        t.merge(spark.createDataFrame(epochs[1], SCHEMA), epoch=1)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert t.current_version() == v
    monkeypatch.undo()

    t.merge(spark.createDataFrame(epochs[1], SCHEMA), epoch=1)
    t.merge(spark.createDataFrame(epochs[2], SCHEMA), epoch=2)
    t.apply_repo_ddl(3, "truncate", "r1")
    t.apply_repo_ddl(4, "rename", "r2", new_repo="r9")
    got = {(r["repo"], r["path"]): r["content"] for r in t.read_state().collect()}
    assert got == _replay(epochs, "r1", ("r2", "r9"))
    head = t.current_version()
    pd.testing.assert_frame_equal(
        _norm(t.diff(0, head)), _norm(t._diff_full(0, head)), check_dtype=False
    )


def test_failed_data_write_waits_for_change_write(spark, tmp_path):
    """When the write on the caller's thread fails, the error surfaces only
    after the other thread's Spark job has finished."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    done = threading.Event()

    def slow_changes():
        spark.range(4).repartition(4).foreach(lambda _: time.sleep(0.5))
        done.set()

    def failing_data():
        raise OSError("data store went away")

    with pytest.raises(OSError, match="data store went away"):
        t._write_overlapped(failing_data, slow_changes)
    assert done.is_set()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []


def test_overlapped_change_write_keeps_callers_job_group(spark, tmp_path, monkeypatch):
    """The change write runs on a second thread; its jobs still carry the
    caller's job group, so event logs attribute them to the merge."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, track_changes=True)
    seen = {}
    real = LakeTable._write_change_rows

    def spy(self, manifest, rows):
        seen["thread"] = threading.current_thread()
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        before = set(tracker.getJobIdsForGroup("merge-under-test"))
        out = real(self, manifest, rows)
        seen["jobs"] = set(tracker.getJobIdsForGroup("merge-under-test")) - before
        return out

    monkeypatch.setattr(LakeTable, "_write_change_rows", spy)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("merge-under-test", "tracked merge")
    try:
        t.merge(spark.createDataFrame(_epochs()[0], SCHEMA), epoch=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen["thread"] is not threading.main_thread()
    assert seen["group"] == "merge-under-test"
    assert seen["jobs"]
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_rename_into_existing_repo_diff_matches_full(spark, tmp_path):
    """A rename into a repo that shares paths with the renamed one: the
    moved row wins the collision on r0/p00 (newer seq), the existing
    target row wins on r0/p03 (updated later). The change rows say so,
    and the incremental diff equals the snapshot join over every range."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, track_changes=True)
    _ingest(spark, t)
    late = [("r0", "p03", 9000, "U", "z", None, "r0-late")]
    t.merge(spark.createDataFrame(late, SCHEMA), epoch=5)
    t.apply_repo_ddl(6, "rename", "r3", new_repo="r0")
    head = t.current_version()

    # expected: last writer wins per key, the DDLs, then the rename's
    # collisions resolved by newest seq
    state: dict[tuple[str, str], tuple[int, str]] = {}
    for rows in _epochs() + [late]:
        for repo, path, seq, op, _c, _l, content in rows:
            key = ("r9" if repo == "r2" else repo, path)
            if op == "D":
                state.pop(key, None)
            elif repo != "r1":
                state[key] = (seq, content)
    want_ops = {}
    for (repo, path), (seq, content) in sorted(state.items()):
        if repo != "r3":
            continue
        del state[(repo, path)]
        want_ops[(repo, path)] = "D"
        prior = state.get(("r0", path))
        if prior is None or prior[0] < seq:
            want_ops[("r0", path)] = "I" if prior is None else "U"
            state[("r0", path)] = (seq, content)
    assert want_ops[("r0", "p00")] == "U" and ("r0", "p03") not in want_ops

    got = {(r["repo"], r["path"]): r["content"] for r in t.read_state().collect()}
    assert got == {k: c for k, (_s, c) in state.items()}
    last = t.diff(head - 1, head).toPandas()
    assert dict(zip(zip(last.repo, last.path), last.diff_op)) == want_ops
    for a in range(head):
        pd.testing.assert_frame_equal(
            _norm(t.diff(a, head)), _norm(t._diff_full(a, head)), check_dtype=False
        )


def test_ddl_fails_loudly_when_staged_files_vanish(spark, tmp_path, monkeypatch):
    """A DDL whose staged output loses a bucket it moved rows into raises
    before its commit and commits nothing; a rerun converges."""
    from mysql_binlog_spark.functions.xxhash import pmod, spark_xxhash64

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, track_changes=True)
    for e, rows in enumerate(_epochs()):
        t.merge(spark.createDataFrame(rows, SCHEMA), epoch=e)
    v = t.current_version()
    lost = str(pmod(spark_xxhash64("r9", "p00"), 16))
    real = LakeTable._staged_files

    def lossy(self, stage):
        return {b: fs for b, fs in real(self, stage).items() if b != lost}

    monkeypatch.setattr(LakeTable, "_staged_files", lossy)
    with pytest.raises(RuntimeError, match=f"bucket {lost} vanished"):
        t.apply_repo_ddl(3, "rename", "r2", new_repo="r9")
    assert t.current_version() == v
    monkeypatch.undo()

    t.apply_repo_ddl(3, "rename", "r2", new_repo="r9")
    got = {(r["repo"], r["path"]): r["content"] for r in t.read_state().collect()}
    assert got == _replay(_epochs(), "none", ("r2", "r9"))
