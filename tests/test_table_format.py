"""The versioned manifest format: tables this code did not write in its
own format are refused, and the per-bucket bloom invariant that lets DDL
pruning index blooms directly holds at every live version."""

from __future__ import annotations

import json

import pytest

from mysql_binlog_spark.lake.table import FORMAT_VERSION, LakeTable


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, seq long, op string, content string, "
        "commit string",
    )


def _edit_manifest(t: LakeTable, version: int, edit) -> None:
    p = t._manifest_path(version)
    with open(p) as f:
        m = json.load(f)
    edit(m)
    with open(p, "w") as f:
        json.dump(m, f)


def test_unversioned_and_newer_tables_are_refused(spark, tmp_path):
    root = str(tmp_path / "lake")
    t = LakeTable(spark, root, n_buckets=4)
    for e in range(3):
        t.merge(_batch(spark, [("a", f"p{e}", e, "I", f"x{e}", f"c{e}")]), epoch=e)
    head = t.current_version()
    assert head == 3
    assert t.read_manifest()["format_version"] == FORMAT_VERSION

    # an older version without the field: opening (head intact) works,
    # time travel to the stripped version is refused
    _edit_manifest(t, 1, lambda m: m.pop("format_version"))
    t2 = LakeTable(spark, root)
    assert t2.read_state(version=2).count() == 2
    with pytest.raises(ValueError) as e:
        t2.read_state(version=1)
    msg = str(e.value)
    assert "v1" in msg and "(none)" in msg and f"format_version {FORMAT_VERSION}" in msg

    # the head without the field: the open itself is refused
    _edit_manifest(t, head, lambda m: m.pop("format_version"))
    with pytest.raises(ValueError) as e:
        LakeTable(spark, root)
    msg = str(e.value)
    assert "(none)" in msg and f"format_version {FORMAT_VERSION}" in msg

    # a newer format: refused, naming both versions
    _edit_manifest(t, head, lambda m: m.update(format_version=FORMAT_VERSION + 1))
    with pytest.raises(ValueError) as e:
        LakeTable(spark, root)
    msg = str(e.value)
    assert f"format_version {FORMAT_VERSION + 1}" in msg
    assert f"format_version {FORMAT_VERSION}" in msg


def test_v1_layout_table_is_refused(spark, tmp_path):
    """A table written in the v1 layout (the default source's fence in
    top-level ``epoch_watermark``/``epochs_extra``, the other source
    state in parallel maps) is refused at open, naming both versions."""
    root = str(tmp_path / "lake")
    t = LakeTable(spark, root, n_buckets=4)
    t.merge(_batch(spark, [("a", "p", 1, "I", "x", "c")]), epoch=0)

    def to_v1(m):
        del m["sources"]
        m.update(
            format_version=1, epoch_watermark=0, epochs_extra=[], source_fences={},
            source_hwms={"": 1}, applied_files={}, applied_floor={},
        )

    _edit_manifest(t, 1, to_v1)
    with pytest.raises(ValueError) as e:
        LakeTable(spark, root)
    msg = str(e.value)
    assert "format_version 1" in msg and f"format_version {FORMAT_VERSION}" in msg


def test_every_bucket_keeps_a_bloom(spark, tmp_path, monkeypatch):
    """Merge, DDL and rebucket record a bloom for every bucket they list,
    and maintenance carries them: every live version maps each bucket
    with files to a bloom (DDL pruning indexes ``repo_blooms`` directly)."""
    monkeypatch.setattr(LakeTable, "CKPT_FOLD_INTERVAL", 4)
    root = str(tmp_path / "lake")
    t = LakeTable(spark, root, n_buckets=4, track_changes=True)
    seq = 0
    for e in range(4):
        rows = []
        for r in ("a", "b", "c"):
            for i in range(3):
                seq += 1
                rows.append((r, f"p{e}-{i}", seq, "I", f"x{seq}", f"c{seq}"))
        t.merge(_batch(spark, rows), epoch=e)
    assert t.apply_repo_ddl(4, "truncate", "a").rows_in == 12
    assert t.apply_repo_ddl(5, "rename", "b", new_repo="z").rows_in == 12
    t.merge(_batch(spark, [("c", "p0-0", seq + 1, "D", None, None)]), epoch=6)
    t.rebucket(8)
    t.merge(_batch(spark, [("y", "q", seq + 2, "I", "yy", "cy")]), epoch=7)
    t.compact_changes(1, 4)
    t.vacuum(keep_versions=2, change_retention_versions=2, expire_manifests=True)

    head = t.read_manifest()
    assert head["manifest_floor"] > 0  # manifests really expired
    for v in range(head["manifest_floor"] + 1, t.current_version() + 1):
        m = t.read_manifest(v)
        assert set(m["buckets"]) <= set(m["repo_blooms"]), v
    assert {r["repo"] for r in t.read_state().collect()} == {"c", "y", "z"}


def test_open_of_missing_root_creates_nothing(spark, tmp_path, monkeypatch, capsys):
    """Opening a root that holds no table creates nothing there, and a
    CLI read refuses it, naming the path, instead of reporting an empty
    version 0. The first commit creates the table."""
    import mysql_binlog_spark.__main__ as cli
    from mysql_binlog_spark import session

    root = tmp_path / "no-such-table"
    t = LakeTable(spark, str(root))
    assert t.current_version() == 0
    assert not root.exists()

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    argv = ["diff", "--table", str(root), "--from-version", "0", "--out", str(tmp_path / "o")]
    assert cli.main(argv) == 2
    assert str(root) in json.loads(capsys.readouterr().out.strip().splitlines()[-1])["error"]
    assert not root.exists()

    t.merge(_batch(spark, [("a", "p", 1, "I", "x", "c")]), epoch=0)
    assert (root / "_snapshots").is_dir()
