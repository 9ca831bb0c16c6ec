"""Packed-binary codec roundtrip, changelog range source pruning, lake
time-travel and vacuum."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mysql_binlog_spark.changelog import ChangelogSpec
from mysql_binlog_spark.changelog.generator import generate_events_pandas
from mysql_binlog_spark.engine.pipeline import run_ingest, table_snapshot
from mysql_binlog_spark.lake.io import LocalTableIO
from mysql_binlog_spark.lake.table import LakeTable, bucket_expr
from mysql_binlog_spark.sources.binlog_codec import (
    decode_packed_events,
    encode_packed_events,
)
from mysql_binlog_spark.sources.changelog_source import (
    read_changelog,
    read_changelog_range,
)

EV_COLS = [
    "seq", "op", "repo", "path", "commit", "lang",
    "content", "before_content", "new_path", "statement",
]


def test_packed_codec_roundtrip(spark):
    ev = generate_events_pandas(ChangelogSpec(n_events=2000, seed=11))
    packed = encode_packed_events(ev)
    sdf = spark.createDataFrame(packed)
    back = (
        decode_packed_events(sdf)
        .toPandas()[EV_COLS]
        .sort_values("seq")
        .reset_index(drop=True)
    )
    want = ev[EV_COLS].sort_values("seq").reset_index(drop=True)
    pd.testing.assert_frame_equal(back, want, check_dtype=False)


def test_changelog_range_pruning(spark, tmp_path):
    ev = generate_events_pandas(ChangelogSpec(n_events=3000, seed=12))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    df = read_changelog_range(spark, p, start_seq=999, stop_seq=1999)
    seqs = [r["seq"] for r in df.select("seq").collect()]
    assert min(seqs) == 1000 and max(seqs) == 1999 and len(seqs) == 1000
    # the predicate reaches the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "seq" in plan


def test_time_travel_and_vacuum(spark, tmp_path):
    ev = generate_events_pandas(ChangelogSpec(n_events=4000, seed=13))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    run_ingest(spark, p, t, epoch_size=2000)
    assert t.current_version() == 2

    v1 = t.read_state(version=1)
    v2 = t.read_state(version=2)
    # v1 is the state after epoch 0 only: its max seq stays below 2000
    assert v1.agg({"seq": "max"}).collect()[0][0] <= 1999
    assert v2.agg({"seq": "max"}).collect()[0][0] >= 2000

    n_v2 = v2.count()
    removed = t.vacuum(keep_versions=1)
    assert removed, "older snapshot files should be reclaimed"
    # current state unaffected
    assert t.read_state().count() == n_v2
    # final state still equals a fresh full recover
    t2 = LakeTable(spark, str(tmp_path / "lake2"), n_buckets=8)
    run_ingest(spark, p, t2, epoch_size=2000)
    a = table_snapshot(t).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    b = table_snapshot(t2).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_schema_imposed_read(spark, tmp_path):
    """Files written without `lang` surface it as NULL (additive
    evolution at the source layer)."""
    ev = generate_events_pandas(ChangelogSpec(n_events=500, seed=14))
    old = ev.drop(columns=["lang"])
    p = str(tmp_path / "old.parquet")
    pq.write_table(pa.Table.from_pandas(old, preserve_index=False), p)
    df = read_changelog(spark, p)
    assert "lang" in df.columns
    assert df.filter(df.lang.isNotNull()).count() == 0
    assert df.count() == 500


def test_torn_commit_leaves_only_data_orphans(spark, tmp_path):
    """Commit protocol: the manifest create IS the commit. A crash before
    it leaves only orphan data files — invisible to reads (manifest file
    lists are authoritative) and reclaimed by vacuum. There is no
    uncommitted-manifest state at all, so reopening (even read-only) has
    no cleanup to do and cannot race a writer."""
    ev = generate_events_pandas(ChangelogSpec(n_events=1000, seed=15))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, p, t, epoch_size=500)
    cur = t.current_version()
    n_rows = t.read_state().count()

    # simulate the torn commit: data staged, crash before manifest create
    orphan_dir = os.path.join(t.root, "data", "epoch999-deadbeef", "bucket=0")
    os.makedirs(orphan_dir)
    pq.write_table(
        pa.Table.from_pandas(ev.head(3), preserve_index=False),
        os.path.join(orphan_dir, "part-0.parquet"),
    )

    t2 = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    assert t2.current_version() == cur
    assert t2.read_state().count() == n_rows  # orphans invisible
    # default grace: fresh unreferenced files look exactly like a
    # concurrent writer's staged output and must survive the sweep
    assert not any("epoch999-deadbeef" in r for r in t2.vacuum(keep_versions=1))
    removed = t2.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert any("epoch999-deadbeef" in r for r in removed)
    # fresh events still commit at the next version
    ev2 = generate_events_pandas(ChangelogSpec(n_events=1500, seed=15))
    p2 = str(tmp_path / "ev2.parquet")
    pq.write_table(pa.Table.from_pandas(ev2, preserve_index=False), p2)
    run_ingest(spark, p2, t2, epoch_size=500)
    assert t2.current_version() == cur + 1


def test_concurrent_commit_detected(spark, tmp_path):
    """Two writers racing to the same version: the second exclusive-create
    must fail loudly instead of silently overwriting (optimistic
    concurrency at the manifest-create linearization point)."""
    import json

    import pytest

    ev = generate_events_pandas(ChangelogSpec(n_events=800, seed=16))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, p, t, epoch_size=1000)
    # a rival commits v(cur+1) AFTER our writer has planned the same
    # version (simulated by committing the rival's manifest directly,
    # then attempting our commit at the now-taken version)
    cur = t.current_version()
    with open(t._manifest_path(cur + 1), "w") as f:
        json.dump({"version": cur + 1, "buckets": {}, "schema": None,
                   "sources": {},
                   "checkpoints": [], "n_buckets": 4, "changes": None}, f)
    with pytest.raises(FileExistsError):
        t._commit({"version": cur + 1, "buckets": {}, "schema": None,
                   "sources": {},
                   "checkpoints": [], "n_buckets": 4, "changes": None})


def test_n_buckets_mismatch_fails_loudly(spark, tmp_path):
    """Reopening an existing table with a different explicit n_buckets
    must fail (a silent remap would scatter keys across buckets and
    corrupt every subsequent merge); n_buckets=None adopts the stored
    value."""
    import pytest

    ev = generate_events_pandas(ChangelogSpec(n_events=600, seed=19))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    run_ingest(spark, p, t, epoch_size=1000)

    with pytest.raises(ValueError, match="n_buckets"):
        LakeTable(spark, str(tmp_path / "lake"), n_buckets=16)
    t2 = LakeTable(spark, str(tmp_path / "lake"))  # adopt
    assert t2.n_buckets == 8


def test_root_spelling_independence(spark, tmp_path):
    """Vacuum/reads work when the table is reopened via a different
    spelling of the same root (relative vs absolute): paths are
    normalized at open, so manifest-recorded paths always compare equal."""
    ev = generate_events_pandas(ChangelogSpec(n_events=1000, seed=20))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, p, t, epoch_size=500)
    n = t.read_state().count()

    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        t2 = LakeTable(spark, "lake")  # relative spelling, same table
        assert t2.read_state().count() == n
        removed = t2.vacuum(keep_versions=1)
        # older version's files reclaimed; live files untouched
        assert removed
        assert t2.read_state().count() == n
    finally:
        os.chdir(cwd)


def test_hadoop_fs_io_path(spark, tmp_path):
    """S9: the same table protocol runs through the JVM Hadoop FileSystem
    when the root carries a URI scheme (file:// here; hdfs://, s3a://
    identically) — manifest create, listing, reads, resume, vacuum."""
    from mysql_binlog_spark.lake.io import HadoopTableIO

    ev = generate_events_pandas(ChangelogSpec(n_events=1500, seed=21))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)

    root = f"file://{tmp_path}/hlake"
    t = LakeTable(spark, root, n_buckets=4)
    assert isinstance(t.io, HadoopTableIO)
    run_ingest(spark, p, t, epoch_size=500)
    n = t.read_state().count()
    assert n > 0 and t.current_version() == 3

    # reopen (adopting n_buckets from the manifest) + fenced replay
    t2 = LakeTable(spark, root)
    assert t2.n_buckets == 4
    rep = run_ingest(spark, p, t2, epoch_size=500)
    assert rep.epochs_run == 0 and t2.read_state().count() == n

    # matches the same ingest through the local-POSIX io
    t3 = LakeTable(spark, str(tmp_path / "llake"), n_buckets=4)
    run_ingest(spark, p, t3, epoch_size=500)
    a = table_snapshot(t2).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    b = table_snapshot(t3).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    removed = t2.vacuum(keep_versions=1)
    assert removed and t2.read_state().count() == n


def test_checkpoint_chain_across_manifests(spark, tmp_path):
    """Each manifest stores only its epoch's lineage rows; checkpoints()
    walks the chain and must still see every epoch."""
    ev = generate_events_pandas(ChangelogSpec(n_events=3000, seed=17))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, p, t, epoch_size=1000)
    cps = t.checkpoints().toPandas()
    assert sorted(cps["epoch"].unique()) == [0, 1, 2]
    assert t.high_watermark() == 2999
    # per-manifest delta: the newest manifest holds only its own epoch
    newest = t.read_manifest()
    assert {c["epoch"] for c in newest["checkpoints"]} == {newest["epoch"]}


def test_incremental_diff_reads_only_change_files(spark, tmp_path):
    """With change tracking on, diff(v_old, v_new) scans ONLY the
    per-epoch change files of versions in between — never the table's
    bucket data files — and equals the full-join diff."""
    ev = generate_events_pandas(ChangelogSpec(n_events=4000, seed=22))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8, track_changes=True)
    run_ingest(spark, p, t, epoch_size=1000)
    assert t.current_version() == 4

    d = t.diff(1, 3)
    files = d.inputFiles()
    assert files and all("/changes/" in f for f in files)
    assert not any("/data/" in f for f in files)  # no full-snapshot scan
    # only versions 2..3's change files, not 1's or 4's
    vers = {f.split("/changes/")[1].split("-")[0] for f in files}
    assert vers == {"v00000002", "v00000003"}
    a = d.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    b = t._diff_full(1, 3).toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_version_diff(spark, tmp_path):
    """diff(v_old, v_new) emits exactly the keys whose state changed,
    typed I/U/D, matching a brute-force comparison of the two snapshots."""
    ev = generate_events_pandas(ChangelogSpec(n_events=4000, seed=18))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    run_ingest(spark, p, t, epoch_size=2000)

    d = t.diff(1, 2).toPandas()
    old = t.read_state(version=1).toPandas().set_index(["repo", "path"])
    new = t.read_state(version=2).toPandas().set_index(["repo", "path"])
    want_ops = {}
    for k in set(old.index) | set(new.index):
        if k not in old.index:
            want_ops[k] = "I"
        elif k not in new.index:
            want_ops[k] = "D"
        elif old.loc[k, "seq"] != new.loc[k, "seq"]:
            want_ops[k] = "U"
    got_ops = {(r.repo, r.path): r.diff_op for r in d.itertuples()}
    assert got_ops == want_ops
    assert len(d) > 0
    # new_content matches the target snapshot for non-deletes
    for r in d.itertuples():
        if r.diff_op != "D":
            assert r.new_content == new.loc[(r.repo, r.path), "content"]


class RecordingIO(LocalTableIO):
    """LocalTableIO that records the data files opened on the driver."""

    def __init__(self):
        self.opened: list[str] = []

    def open_input(self, path: str):
        self.opened.append(path)
        return super().open_input(path)


def test_lookup_point_and_prefix_pruning(spark, tmp_path):
    """lookup(repo, path) opens exactly the live files of ONE bucket;
    lookup(repo) scans only bloom-admitted buckets; an absent repo reads
    zero files. Results match filtering the full snapshot."""
    ev = generate_events_pandas(ChangelogSpec(n_events=6000, seed=33))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    io = RecordingIO()
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16, io=io)
    run_ingest(spark, p, t, epoch_size=3000)

    snap = t.read_state().toPandas()
    key = snap.sort_values(["repo", "path"]).iloc[0]
    repo, path = key["repo"], key["path"]

    # full-key point lookup: the live files of one bucket, correct row
    io.opened.clear()
    d = t.lookup(repo, path)
    (b,) = spark.createDataFrame([(repo, path)], "repo string, path string").select(
        bucket_expr(16)
    ).first()
    bucket_files = t.read_manifest()["buckets"][str(b)]
    assert sorted(io.opened) == sorted(bucket_files) and bucket_files
    got = d.toPandas()
    assert len(got) == 1
    assert got.iloc[0]["content"] == key["content"]

    # repo prefix lookup: bloom-pruned strict subset of the table's files,
    # but ALL of the repo's rows. A hot repo genuinely occupies every
    # bucket (no pruning possible) — probe the coldest repo instead.
    cold = snap["repo"].value_counts().idxmin()
    dr = t.lookup(cold)
    all_files = set(t.read_state().inputFiles())
    assert set(dr.inputFiles()) < all_files
    want = snap[snap["repo"] == cold].sort_values("path").reset_index(drop=True)
    got_r = dr.toPandas().sort_values("path").reset_index(drop=True)
    pd.testing.assert_frame_equal(got_r, want, check_dtype=False)

    # never-seen repo: zero files, zero rows
    dn = t.lookup("no/such-repo")
    assert dn.inputFiles() == [] and dn.count() == 0

    # deleted key: point lookup is empty (tombstones are physically absent)
    deleted = None
    live = set(zip(snap["repo"], snap["path"]))
    for _, r in ev[ev["op"] == "D"].iterrows():
        if (r["repo"], r["path"]) not in live:
            deleted = (r["repo"], r["path"])
            break
    if deleted is not None:
        assert t.lookup(*deleted).count() == 0


_LOOKUP_BATCH = "repo string, path string, seq long, op string, commit string, content string"


def _lookup_table(spark, root: str) -> LakeTable:
    """Four versions over 8 buckets: an insert epoch, an epoch that
    updates one key, deletes one and adds the column ``lang``, a truncate
    of ``r2`` and a rename of ``r3`` onto ``r4``."""
    t = LakeTable(spark, root, n_buckets=8)
    rows = [(f"r{r}", f"p{i}", 10 * r + i, "I", f"c{r}{i}", f"body{r}{i}")
            for r in range(1, 4) for i in range(6)]
    t.merge(spark.createDataFrame(rows, _LOOKUP_BATCH), epoch=0)
    t.merge(
        spark.createDataFrame(
            [("r1", "p0", 100, "U", "c100", "new body", "python"),
             ("r1", "p1", 101, "D", None, None, None)],
            _LOOKUP_BATCH + ", lang string",
        ),
        epoch=1,
    )
    t.apply_repo_ddl(2, "truncate", "r2")
    t.apply_repo_ddl(3, "rename", "r3", "r4")
    return t


def test_point_lookup_runs_no_spark_job(spark, tmp_path):
    """A point lookup builds and collects its result on the driver: no
    Spark job for a hit, a miss or a time-travel read."""
    t = _lookup_table(spark, str(tmp_path / "lake"))
    sc = spark.sparkContext
    sc.setJobGroup("point-lookups", "point lookups")
    try:
        assert [r["content"] for r in t.lookup("r1", "p0").collect()] == ["new body"]
        assert t.lookup("r1", "p1").collect() == []
        assert t.lookup("no/such-repo", "p0").collect() == []
        assert [r["content"] for r in t.lookup("r3", "p2", version=2).collect()] == ["body32"]
        assert t.lookup("r1", "p0", version=0).collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("point-lookups")) == []


def test_point_lookup_matches_read_state_at_every_version(spark, tmp_path):
    """For every key ever written, one never seen, and every version,
    the point lookup equals the Spark read of its bucket filtered to the
    key — including NULL in ``lang`` for a key whose file predates it."""
    t = _lookup_table(spark, str(tmp_path / "lake"))
    head = t.current_version()
    assert head == 4
    keys = [(f"r{r}", f"p{i}") for r in range(1, 5) for i in range(6)]
    keys.append(("never", "seen"))
    bucket_of = {
        (r, p): b
        for r, p, b in spark.createDataFrame(keys, "repo string, path string")
        .select("repo", "path", bucket_expr(8))
        .collect()
    }
    for v in range(head + 1):
        for repo, path in keys:
            got = t.lookup(repo, path, version=v)
            b = bucket_of[(repo, path)]
            want = t.read_state(buckets=[b], version=v).where(
                (F.col("repo") == repo) & (F.col("path") == path)
            )
            assert got.schema == want.schema, (v, repo, path)
            assert got.collect() == want.collect(), (v, repo, path)

    # the new column reads NULL from a file written before it existed
    # (at v2: the truncate and rename rewrite every bucket after it)
    m = t.read_manifest(2)
    old_files = {
        (r["repo"], r["path"])
        for b, fs in m["buckets"].items()
        for f in fs
        if "lang" not in pq.read_schema(f).names
        for r in pq.read_table(f, columns=["repo", "path"]).to_pylist()
    }
    assert old_files
    repo, path = sorted(old_files)[0]
    (row,) = t.lookup(repo, path, version=2).collect()
    assert row["lang"] is None and row["content"] is not None
    assert t.lookup("r4", "p3").collect()[0]["content"] == "body33"
    assert t.lookup("r3", "p3").collect() == []
    assert t.lookup("r2", "p0").collect() == []


def test_merge_detects_vanished_staged_output(spark, tmp_path):
    """If a bucket's staged state files disappear between the write job
    and the commit's staging listing (an external cleaner, or a vacuum
    whose orphan grace undershot the write duration), the commit must
    fail loudly instead of committing a manifest that silently lost the
    bucket."""
    import pytest

    from mysql_binlog_spark.changelog import ChangelogSpec
    from mysql_binlog_spark.changelog.generator import generate_events_pandas
    from mysql_binlog_spark.engine.pipeline import run_ingest

    ev = generate_events_pandas(ChangelogSpec(n_events=1000, seed=44))
    p = str(tmp_path / "ev.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), p)
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)

    real_walk = t.io.walk_files

    def eaten(root, suffix=".parquet"):
        if "/data/epoch" in root:
            return []
        return real_walk(root, suffix)

    t.io.walk_files = eaten
    try:
        with pytest.raises(Exception, match="vanished before commit"):
            run_ingest(spark, p, t, epoch_size=1000)
    finally:
        t.io.walk_files = real_walk
