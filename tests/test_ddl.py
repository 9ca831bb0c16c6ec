"""DDL handling end-to-end (SURVEY §2.8 C7, §2.9 T8; reference
common/regx/regular_test.go + parser_test.go cases, flush-before-DDL
barrier backup/handler/merge.go:147-166)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mysql_binlog_spark.changelog import ChangelogSpec
from mysql_binlog_spark.changelog.generator import generate_events_pandas
from mysql_binlog_spark.changelog.oracle import oracle_snapshot_from_pandas
from mysql_binlog_spark.engine.pipeline import plan_entries, run_ingest, table_snapshot
from mysql_binlog_spark.lake.table import LakeTable
from mysql_binlog_spark.operators.ddl import (
    DdlOp,
    parse_query,
    parse_statement,
    snapshot_with_ddl,
)

SNAP_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


# ---------------------------------------------------------------------------
# statement parser — the regular_test.go / parser_test.go case matrix
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "stmt,action,tables",
    [
        # CREATE TABLE variants (regular_test.go TestRegMatch2)
        ("CREATE TABLE `position` (`id` bigint(20) NOT NULL)", "create", ["mydb.position"]),
        ("CREATE TABLE `position`(`id` bigint(20))", "create", ["mydb.position"]),
        ("CREATE\t\t\t TABLE `mydb.mytable` (`id` int(10)) ENGINE=InnoDB", "create", ["mydb.mytable"]),
        ("CREATE TABLE `mytable` (`id` int(10)) ENGINE=InnoDB", "create", ["mydb.mytable"]),
        ("CREATE TABLE IF NOT EXISTS `mytable` (`id` int(10))", "create", ["mydb.mytable"]),
        ("CREATE TABLE IF NOT EXISTS mytable (`id` int(10))", "create", ["mydb.mytable"]),
        # DROP TABLE variants (TestRegMatch4)
        ("drop table test1", "drop", ["mydb.test1"]),
        ("DROP\t\t\t TABLE test1", "drop", ["mydb.test1"]),
        ("DROP table IF EXISTS test.test1", "drop", ["test.test1"]),
        ("drop table `test1`", "drop", ["mydb.test1"]),
        ("DROP table IF EXISTS `test`.`test1`", "drop", ["test.test1"]),
        ("DROP TABLE `test1` /* generated by server */", "drop", ["mydb.test1"]),
        ("DROP table if exists test.`test1`", "drop", ["test.test1"]),
        ("DROP table if exists `test`.test1", "drop", ["test.test1"]),
        # ALTER TABLE variants (TestRegMatch6)
        ("ALTER TABLE `mydb`.`mytable` ADD `field2` DATE NULL AFTER `field1`", "alter", ["mydb.mytable"]),
        ("ALTER TABLE `myTable` ADD `field2` DATE NULL", "alter", ["mydb.myTable"]),
        ("ALTER TABLE mydb.mytable ADD field2 DATE NULL", "alter", ["mydb.mytable"]),
        ("ALTER TABLE mytable ADD `field2` DATE NULL", "alter", ["mydb.mytable"]),
        ("ALTER TABLE sbtest1 ADD COLUMN name VARCHAR(100) DEFAULT NULL", "alter", ["mydb.sbtest1"]),
        # CREATE INDEX variants (TestRegMatch3)
        ("CREATE INDEX k_1 ON sbtest1(k)", "create_index", ["mydb.sbtest1"]),
        ("CREATE INDEX k_1 ON sysbench.sbtest1(k)", "create_index", ["sysbench.sbtest1"]),
        ("CREATE INDEX k_1 ON `sysbench`.`sbtest1`(k)", "create_index", ["sysbench.sbtest1"]),
        # TRUNCATE (parser.go handles via sqlparser TruncateStr)
        ("TRUNCATE TABLE t1", "truncate", ["mydb.t1"]),
        ("truncate `db2`.`t1`", "truncate", ["db2.t1"]),
    ],
)
def test_parse_single_statements(stmt, action, tables):
    p = parse_statement(stmt, default_db="mydb")
    assert p is not None, stmt
    assert p.action == action
    assert list(p.tables) == tables


@pytest.mark.parametrize(
    "stmt,pairs",
    [
        # RENAME variants (TestRegMatch5)
        (
            "rename \t\t\ttable `mydb`.`mytable` to `mydb`.`mytable1`",
            [("mydb.mytable", "mydb.mytable1")],
        ),
        ("rename table `mytable` to `mytable1`", [("mydb.mytable", "mydb.mytable1")]),
        ("rename table mydb.mytable to mydb.mytable1", [("mydb.mytable", "mydb.mytable1")]),
        ("rename table mytable to mytable1", [("mydb.mytable", "mydb.mytable1")]),
        # multi-pair split on ',' (TestRegMatch / regular.go:60-100)
        (
            "RENAME TABLE `b2b`.`order_main` TO `b2b`.`_order_main_old`, "
            "`b2b`.`_order_main_new` TO `b2b`.`order_main`",
            [
                ("b2b.order_main", "b2b._order_main_old"),
                ("b2b._order_main_new", "b2b.order_main"),
            ],
        ),
        (
            "rename table mytable to mytable2, mytable3 to mytable1",
            [("mydb.mytable", "mydb.mytable2"), ("mydb.mytable3", "mydb.mytable1")],
        ),
    ],
)
def test_parse_renames(stmt, pairs):
    p = parse_statement(stmt, default_db="mydb")
    assert p is not None and p.action == "rename"
    assert list(p.pairs) == pairs


def test_parse_query_multi_statement_and_txn_elision():
    """Multi-statement split on ';' + BEGIN/COMMIT/ROLLBACK/SAVEPOINT
    elision (merge.go:141-166)."""
    q = "SAVEPOINT sp1; DROP TABLE t1; ALTER TABLE t2 ADD x INT; COMMIT"
    ps = parse_query(q, default_db="d")
    assert [(p.action, p.tables[0]) for p in ps] == [
        ("drop", "d.t1"),
        ("alter", "d.t2"),
    ]
    assert parse_query("BEGIN", "d") == []
    # unmatched statements are NOT dropped: they land in the 'public'
    # stream as table-less global barriers (recover/main.go:148-181)
    unk = parse_query("not a ddl at all", "d")
    assert [(p.action, p.tables) for p in unk] == [("unknown", ())]


def test_public_stream_barrier_for_unmatched_ddl(spark):
    """CREATE DATABASE / GRANT-class statements produce global barrier
    entries in the epoch plan (flush-all, no table effect) instead of
    vanishing — the reference's `public` stream replayed before all
    tables (recover/main.go:148-181; common/inter/constant.go:97)."""
    import pandas as pd

    from mysql_binlog_spark.operators.ddl import extract_ddl_ops

    ps = parse_query("CREATE DATABASE x; GRANT ALL ON x.* TO 'u'@'%'", "d")
    assert [p.action for p in ps] == ["unknown", "unknown"]
    assert all(p.tables == () for p in ps)
    assert ps[0].statement == "CREATE DATABASE x"

    # plan: the unknown DDL at seq 1500 cuts the merge range exactly like
    # a table DDL would (global flush barrier)
    ops = [DdlOp(1500, "unknown", None)]
    entries = plan_entries(max_seq=3000, epoch_size=1000, ddl_ops=ops)
    kinds = [e[0] for e in entries]
    assert "ddl" in kinds
    i = kinds.index("ddl")
    assert entries[i - 1][3] == 1499  # rows below the barrier flushed first
    assert entries[i][2].action == "unknown"

    # extract_ddl_ops surfaces them from a real changelog frame
    ev = pd.DataFrame(
        {
            "repo": ["_"], "path": ["_"], "seq": [7], "op": ["Q"],
            "commit": [None], "lang": [None], "content": [None],
            "before_content": [None], "new_path": [None],
            "statement": ["CREATE DATABASE x"],
        }
    )
    got = extract_ddl_ops(spark.createDataFrame(ev))
    assert [(o.seq, o.action, o.repo) for o in got] == [(7, "unknown", None)]


# ---------------------------------------------------------------------------
# plan barriers
# ---------------------------------------------------------------------------


def test_plan_entries_cuts_at_ddl():
    ops = [DdlOp(1500, "truncate", "r1"), DdlOp(1500, "rename", "r2", "r9")]
    entries = plan_entries(max_seq=3000, epoch_size=1000, ddl_ops=ops)
    kinds = [(e[0],) + tuple(e[2:]) for e in entries]
    # merge up to 1499, both DDLs (same seq, extract order), then resume
    assert kinds[0] == ("merge", -1, 999)
    assert kinds[1] == ("merge", 999, 1499)
    assert kinds[2][0] == "ddl" and kinds[2][1].action == "truncate"
    assert kinds[3][0] == "ddl" and kinds[3][1].action == "rename"
    # remaining ranges cover (1499, 3000] without gaps
    merges = [e for e in entries if e[0] == "merge"]
    assert merges[-1][3] == 3000
    los = [e[2] for e in merges]
    his = [e[3] for e in merges]
    assert los == [-1, 999, 1499, 2499]
    assert his == [999, 1499, 2499, 3000]
    # ids are the ordinal positions (deterministic across resumes)
    assert [e[1] for e in entries] == list(range(len(entries)))
    # no-DDL plan keeps the legacy grid ids (max_seq = 4999 for 5000 events)
    plain = plan_entries(4999, 1000)
    assert [(e[1], e[2], e[3]) for e in plain] == [
        (0, -1, 999), (1, 999, 1999), (2, 1999, 2999),
        (3, 2999, 3999), (4, 3999, 4999),
    ]


# ---------------------------------------------------------------------------
# end-to-end: generator with DDL -> engine == sequential-replay oracle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ddl_changelog(tmp_path_factory):
    spec = ChangelogSpec(n_events=6000, seed=77, n_repos=12, p_ddl=0.004)
    ev = generate_events_pandas(spec)
    assert (ev.op == "Q").sum() >= 5, "fixture must actually contain DDL"
    path = str(tmp_path_factory.mktemp("ddl_ev") / "events.parquet")
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), path)
    return {"pandas": ev, "path": path, "spec": spec}


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["repo", "path"]).reset_index(drop=True)


def test_snapshot_with_ddl_matches_oracle(spark, ddl_changelog):
    """Single-pass (bounded `merge` analog) honoring TRUNCATE / DROP /
    RENAME TABLE — equals the independent sequential replay."""
    got = _sorted(
        snapshot_with_ddl(spark.read.parquet(ddl_changelog["path"]))
        .toPandas()[SNAP_COLS]
    )
    want = oracle_snapshot_from_pandas(ddl_changelog["pandas"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_epoch_pipeline_with_ddl_barriers(spark, ddl_changelog, tmp_path):
    """Incremental pipeline: flush-before-DDL barriers + apply_repo_ddl
    commits; final state equals the oracle; DDL epochs appear in lineage."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    run_ingest(spark, ddl_changelog["path"], t, epoch_size=1000)
    got = _sorted(table_snapshot(t).toPandas()[SNAP_COLS])
    want = oracle_snapshot_from_pandas(ddl_changelog["pandas"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # DDL commits carry lineage rows with bucket == -1
    cp = t.checkpoints().toPandas()
    assert (cp.bucket == -1).any()


def test_ddl_pipeline_resume_mid_plan(spark, ddl_changelog, tmp_path):
    """Crash between barrier entries, restart — fenced ids make the resumed
    run skip exactly the committed prefix and converge to the oracle."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    r1 = run_ingest(spark, ddl_changelog["path"], t, epoch_size=1000, stop_after_epochs=3)
    assert r1.epochs_run == 3
    r2 = run_ingest(spark, ddl_changelog["path"], t, epoch_size=1000)
    assert r2.epochs_skipped >= 3
    got = _sorted(table_snapshot(t).toPandas()[SNAP_COLS])
    want = oracle_snapshot_from_pandas(ddl_changelog["pandas"])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_apply_repo_ddl_rename_collision_lww(spark, tmp_path):
    """RENAME into an existing repo resolves colliding keys by newest seq
    (the engine-wide last-writer-wins rule)."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    df = spark.createDataFrame(
        [
            ("a", "p1", 10, "I", "c1" * 20, None, "a-body-new"),
            ("b", "p1", 5, "I", "c2" * 20, None, "b-body-old"),
            ("b", "p2", 6, "I", "c3" * 20, None, "b-only"),
        ],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    t.merge(df, epoch=0)
    t.apply_repo_ddl(1, "rename", "a", new_repo="b")
    snap = table_snapshot(t).toPandas().set_index(["repo", "path"])
    assert set(snap.index) == {("b", "p1"), ("b", "p2")}
    assert snap.loc[("b", "p1"), "content"] == "a-body-new"  # seq 10 beats 5


def test_apply_repo_ddl_truncate(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    df = spark.createDataFrame(
        [
            ("a", "p1", 1, "I", "c" * 40, None, "x"),
            ("a", "p2", 2, "I", "c" * 40, None, "y"),
            ("b", "p1", 3, "I", "c" * 40, None, "z"),
        ],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    t.merge(df, epoch=0)
    res = t.apply_repo_ddl(1, "truncate", "a")
    assert res.committed and res.rows_deleted == 2
    snap = table_snapshot(t).toPandas()
    assert list(snap.repo) == ["b"]
    # fenced replay is a no-op
    assert not t.apply_repo_ddl(1, "truncate", "a").committed


def test_ddl_bucket_pruning_via_manifest_blooms(spark, tmp_path):
    """A TRUNCATE of a repo confined to few buckets reads <= its candidate
    buckets (manifest bloom probe), NOT the whole table — the round-2
    full-scan DDL cost is gone. Blooms are monotone supersets, so pruning
    can never miss rows (exactness checked against the real bucket set)."""
    from mysql_binlog_spark.lake.table import bucket_expr
    import pyspark.sql.functions as F

    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=16)
    rows = [
        (f"repo-{i}", f"p{j}", i * 10 + j, "I", f"c{i}", None, f"body-{i}-{j}")
        for i in range(20)
        for j in range(3)
    ] + [("tiny", "only-path", 999, "I", "ct", None, "tiny-body")]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, seq long, op string, commit string, "
        "lang string, content string",
    )
    t.merge(df, epoch=0)
    m = t.read_manifest()
    assert len(m["buckets"]) >= 10  # data really spans many buckets

    cand = t._buckets_maybe_containing(m, "tiny")
    # exact bucket of the single key
    true_bucket = (
        spark.createDataFrame([("tiny", "only-path")], "repo string, path string")
        .select(bucket_expr(16).alias("b"))
        .collect()[0]["b"]
    )
    assert true_bucket in cand  # never misses
    assert len(cand) <= 3  # pruned (1 true + rare false positives)

    res = t.apply_repo_ddl(1, "truncate", "tiny")
    assert res.committed and res.rows_in == 1
    assert res.buckets_touched <= len(cand)
    snap = table_snapshot(t).toPandas()
    assert "tiny" not in set(snap.repo)
    assert len(snap) == 60  # everything else intact

    # a repo the table has never seen: bloom probe says (almost) nowhere,
    # and the DDL commits without touching any bucket
    cand2 = t._buckets_maybe_containing(t.read_manifest(), "never-seen")
    assert len(cand2) <= 2
    res2 = t.apply_repo_ddl(2, "truncate", "never-seen")
    assert res2.committed and res2.rows_in == 0 and res2.buckets_touched == 0


def test_rename_into_pruned_target_bucket(spark, tmp_path):
    """Rename whose TARGET buckets fall outside the candidate set: the
    rewrite must still read those target buckets (the extra-bucket union
    path) and land the moved keys there."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=8)
    rows = [
        (f"r{i}", f"p{j}", i * 10 + j, "I", "c", None, f"b-{i}-{j}")
        for i in range(10)
        for j in range(2)
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, seq long, op string, commit string, "
        "lang string, content string",
    )
    t.merge(df, epoch=0)
    t.apply_repo_ddl(1, "rename", "r3", new_repo="brand-new-name")
    snap = table_snapshot(t).toPandas()
    assert "r3" not in set(snap.repo)
    assert sorted(snap[snap.repo == "brand-new-name"].path) == ["p0", "p1"]
    assert len(snap) == 20
    # and the target repo is findable via the updated blooms
    cand = t._buckets_maybe_containing(t.read_manifest(), "brand-new-name")
    assert cand  # bloom bits were added for the rename target


def test_rename_tombstones_do_not_travel_either_direction(spark, tmp_path):
    """A rename acts on live state: a source key already dead at the
    rename must not kill the target's live key (dead-source), and the
    target's own pre-rename tombstone must not out-rank a moved row with
    a lower seq (dead-target). The single-pass snapshot and the
    sequential lake path must agree on both shapes — the lake resolves
    collisions against tombstone-free state, so the expression path has
    to collapse BOTH repos' pre-DDL events at the barrier."""
    import pandas as pd

    from mysql_binlog_spark.changelog.generator import EVENT_SCHEMA
    from mysql_binlog_spark.operators.ddl import snapshot_with_ddl

    cols = [
        "repo", "path", "seq", "op", "commit", "lang", "content",
        "before_content", "new_path", "statement",
    ]
    rows = [
        # dead-SOURCE on pA: src key dies before the rename
        ("b", "pA", 2, "I", "c1" * 20, None, "b-live", None, None, None),
        ("a", "pA", 4, "I", "c2" * 20, None, "a-born", None, None, None),
        ("a", "pA", 6, "D", "d1" * 20, None, None, "a-born", None, None),
        # dead-TARGET on pB: tgt key dies pre-rename; src alive w/ LOWER seq
        ("a", "pB", 3, "I", "c3" * 20, None, "a-moves", None, None, None),
        ("b", "pB", 8, "I", "c4" * 20, None, "b-born", None, None, None),
        ("b", "pB", 10, "D", "d2" * 20, None, None, "b-born", None, None),
        ("_", "_", 21, "Q", "", None, None, None, None, "RENAME TABLE a TO b"),
    ]
    ev = pd.DataFrame(rows, columns=cols)
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.Table.from_pandas(ev, schema=EVENT_SCHEMA, preserve_index=False), path
    )

    def norm(df):
        return (
            df.toPandas()[["repo", "path", "content"]]
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    single = norm(snapshot_with_ddl(spark.read.parquet(path)))
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    run_ingest(spark, path, t, epoch_size=8)
    sequential = norm(table_snapshot(t))
    pd.testing.assert_frame_equal(single, sequential, check_dtype=False)
    got = single.set_index(["repo", "path"])["content"].to_dict()
    assert got == {("b", "pA"): "b-live", ("b", "pB"): "a-moves"}


def test_ddl_side_stream_fresh_and_stale(spark, tmp_path):
    """The landing-time _ddl.parquet fast path must agree with the full
    scan while fresh, and must FALL BACK to the full scan (never drop a
    barrier) when files landed after the side file was written."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_binlog_spark.changelog import ChangelogSpec
    from mysql_binlog_spark.changelog.generator import (
        EVENT_SCHEMA,
        write_events_parquet_dir,
    )
    from mysql_binlog_spark.operators.ddl import (
        extract_ddl_ops,
        extract_ddl_ops_for_path,
    )
    from mysql_binlog_spark.sources.changelog_source import read_changelog

    d = str(tmp_path / "events")
    write_events_parquet_dir(
        ChangelogSpec(n_events=3000, seed=7, p_ddl=0.01), d, events_per_file=1000
    )
    events = read_changelog(spark, d)
    fast = extract_ddl_ops_for_path(spark, d, events)
    slow = extract_ddl_ops(events)
    assert [(o.seq, o.action, o.repo) for o in fast] == [
        (o.seq, o.action, o.repo) for o in slow
    ]
    assert fast  # the fixture actually contains DDL

    # a file lands AFTER the side stream was written, carrying a new DDL
    late = pd.DataFrame(
        {
            "seq": [99991], "repo": ["r1"], "path": [""], "op": ["Q"],
            "commit": ["x"], "lang": [None], "content": [None],
            "before_content": [None], "new_path": [None],
            "statement": ["TRUNCATE TABLE r1"],
        }
    )
    fields = [
        pa.field("seq", pa.int64()) if c == "seq" else pa.field(c, pa.string())
        for c in late.columns
    ]
    tbl = pa.Table.from_pandas(
        late, schema=pa.schema(fields), preserve_index=False
    ).select([f.name for f in EVENT_SCHEMA])
    pq.write_table(tbl.cast(EVENT_SCHEMA), str(tmp_path / "events" / "part-99999.parquet"))

    events2 = read_changelog(spark, d)
    got = extract_ddl_ops_for_path(spark, d, events2)
    assert any(o.seq == 99991 and o.action == "truncate" for o in got)


def test_self_rename_is_a_barrier(spark, tmp_path):
    """RENAME a TO a changes no row: it commits an empty fenced epoch,
    like ``snapshot_with_ddl`` leaves state as it is, and writes no
    change rows (no D for keys that are still there)."""
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4, track_changes=True)
    df = spark.createDataFrame(
        [
            ("a", "p1", 1, "I", "c1", None, "x"),
            ("a", "p2", 2, "I", "c2", None, "y"),
            ("b", "p1", 3, "I", "c3", None, "z"),
        ],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    t.merge(df, epoch=0)
    before = t.read_manifest()
    res = t.apply_repo_ddl(1, "rename", "a", new_repo="a")
    assert res.committed and res.buckets_touched == 0 and res.rows_in == 0
    v = t.current_version()
    assert t.read_manifest(v)["buckets"] == before["buckets"]
    assert 1 in t.epochs_applied()
    assert sorted((r.repo, r.path, r.content) for r in t.read_state().collect()) == [
        ("a", "p1", "x"), ("a", "p2", "y"), ("b", "p1", "z"),
    ]
    assert t.diff(v - 1, v).collect() == t._diff_full(v - 1, v).collect() == []
    assert t.diff(0, v).count() == t._diff_full(0, v).count() == 3


def test_barrier_ddl_commits_without_a_spark_job(spark, tmp_path):
    """CREATE, ALTER, CREATE INDEX and unattributed statements only fence
    their plan position: each advances the fence, touches no bucket and
    runs no Spark job. An action string outside the set is refused."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    t = LakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    df = spark.createDataFrame(
        [("a", "p1", 1, "I", "c1", None, "x")],
        "repo string, path string, seq long, op string, commit string, lang string, content string",
    )
    t.merge(df, epoch=0)
    buckets = t.read_manifest()["buckets"]
    sc.setJobGroup("barrier-ddl", "barrier-only DDL")
    try:
        for e, (action, repo) in enumerate(
            [("create", "a"), ("alter", "a"), ("create_index", "a"), ("unknown", None)],
            start=1,
        ):
            res = t.apply_repo_ddl(e, action, repo)
            assert res.committed and res.buckets_touched == 0, action
            assert e in t.epochs_applied(), action
            assert t.read_manifest()["buckets"] == buckets, action
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(tracker.getJobIdsForGroup("barrier-ddl")) == []
    v = t.current_version()
    with pytest.raises(ValueError, match="unknown DDL action 'vacuum'"):
        t.apply_repo_ddl(5, "vacuum", "a")
    assert t.current_version() == v


def test_pipeline_commits_barrier_entries_through_ddl(spark, tmp_path):
    """The epoch pipeline hands every DDL entry, barrier-only ones
    included, to ``apply_repo_ddl``: the CREATE TABLE entry is fenced
    without a merge call."""
    from mysql_binlog_spark.changelog.generator import EVENT_SCHEMA

    cols = [
        "repo", "path", "seq", "op", "commit", "lang", "content",
        "before_content", "new_path", "statement",
    ]
    ev = pd.DataFrame(
        [
            ("a", "p1", 1, "I", "c1", None, "x", None, None, None),
            ("a", "p2", 2, "I", "c2", None, "y", None, None, None),
            ("_", "_", 3, "Q", "", None, None, None, None, "CREATE TABLE c (id int)"),
            ("a", "p1", 4, "U", "c3", None, "z", "x", None, None),
        ],
        columns=cols,
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.Table.from_pandas(ev, schema=EVENT_SCHEMA, preserve_index=False), path
    )
    merged = []

    class Spy(LakeTable):
        def merge(self, batch, epoch, *args, **kwargs):
            merged.append(epoch)
            return super().merge(batch, epoch, *args, **kwargs)

    t = Spy(spark, str(tmp_path / "lake"), n_buckets=4)
    rep = run_ingest(spark, path, t, epoch_size=10)
    assert rep.epochs_run == 3 and merged == [0, 2]
    assert t.epochs_applied() == [0, 1, 2]
    assert sorted((r.path, r.content) for r in t.read_state().collect()) == [
        ("p1", "z"), ("p2", "y"),
    ]
