"""Property-based checks: for RANDOM changelog shapes (op mix, skew,
evolution point, seed), the Spark collapse must equal the sequential pandas
oracle — the two implementations share no code (SURVEY.md §5 strategy #2).
The binlog byte codecs get build -> parse roundtrips over random rows.
"""

from __future__ import annotations

import zlib

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mysql_binlog_spark.changelog import ChangelogSpec
from mysql_binlog_spark.changelog.generator import generate_events_pandas
from mysql_binlog_spark.changelog.oracle import oracle_snapshot_from_pandas
from mysql_binlog_spark.operators.collapse import (
    collapse_net_effect,
    expand_renames,
    snapshot_from_events,
)

SNAP_COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


def _spec(seed: int, n: int, p_del: float, p_ren: float, hot: float) -> ChangelogSpec:
    return ChangelogSpec(
        n_events=n,
        seed=seed,
        n_repos=7,
        p_insert=0.45,
        p_update=1.0 - 0.45 - p_del - p_ren,
        p_delete=p_del,
        p_rename=p_ren,
        hot_weight=hot,
        evolution_frac=0.4,
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(300, 1500),
    p_del=st.floats(0.05, 0.3),
    p_ren=st.floats(0.0, 0.15),
    hot=st.floats(0.5, 0.95),
)
def test_snapshot_matches_sequential_oracle(spark, seed, n, p_del, p_ren, hot):
    ev = generate_events_pandas(_spec(seed, n, p_del, p_ren, hot))
    sdf = spark.createDataFrame(ev)
    got = (
        snapshot_from_events(sdf)
        .toPandas()[SNAP_COLS]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = oracle_snapshot_from_pandas(ev)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(500, 1500),
    p_ddl=st.floats(0.003, 0.02),
)
def test_ddl_snapshot_matches_sequential_oracle(spark, seed, n, p_ddl):
    """For RANDOM streams CONTAINING DDL (randomized statement formats,
    truncate/drop/rename effects), the single-pass DDL-aware snapshot must
    equal the oracle's independent replay (which parses the statements
    with its own minimal regexes)."""
    from mysql_binlog_spark.operators.ddl import snapshot_with_ddl

    spec = ChangelogSpec(
        n_events=n, seed=seed, n_repos=8, p_delete=0.15, p_rename=0.05,
        p_update=0.3, p_insert=0.45, p_ddl=p_ddl,
    )
    ev = generate_events_pandas(spec)
    got = (
        snapshot_with_ddl(spark.createDataFrame(ev))
        .toPandas()[SNAP_COLS]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = oracle_snapshot_from_pandas(ev)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(300, 1000))
def test_net_effect_consistent_with_snapshot(spark, seed, n):
    """A2 net-op typing must agree with A1 state: keys with net_op='D'
    are absent from the snapshot; every live snapshot key carries the same
    last image in the net-change stream; annihilated keys appear in
    neither."""
    ev = generate_events_pandas(_spec(seed, n, 0.2, 0.1, 0.8))
    sdf = spark.createDataFrame(ev)
    net = collapse_net_effect(expand_renames(sdf)).toPandas()
    snap = snapshot_from_events(sdf).toPandas()

    net_keys_live = {
        (r.repo, r.path) for r in net.itertuples() if r.net_op != "D"
    }
    snap_keys = {(r.repo, r.path) for r in snap.itertuples()}
    assert net_keys_live == snap_keys

    content_net = {
        (r.repo, r.path): r.content for r in net.itertuples() if r.net_op != "D"
    }
    content_snap = {(r.repo, r.path): r.content for r in snap.itertuples()}
    assert content_net == content_snap

    # net_op='I' keys must have had no prior live image: their first op is I
    # (by construction net_op='I' iff first_op == 'I' and not annihilated)
    for r in net.itertuples():
        assert r.net_op in ("I", "U", "D")


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(300, 900),
    p_ddl=st.floats(0.0, 0.01),
    cut_frac=st.floats(0.2, 0.8),
)
def test_incremental_diff_and_compaction_match_full_join(
    spark, seed, n, p_ddl, cut_frac
):
    """For RANDOM streams (including DDL epochs, whose change rows reuse
    row seqs — the round-2 ADVICE tie hazard) the incremental diff, the
    compacted diff, and the snapshot full-outer-join diff must agree on
    EVERY version range. This pins the (version, seq) net-effect algebra
    and the compaction composition to the model answer."""
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_binlog_spark.engine.pipeline import run_ingest
    from mysql_binlog_spark.lake.table import LakeTable

    spec = ChangelogSpec(
        n_events=n, seed=seed, n_repos=6, p_insert=0.4, p_update=0.3,
        p_delete=0.2, p_rename=0.05, p_ddl=p_ddl,
    )
    ev = generate_events_pandas(spec)
    d = tempfile.mkdtemp(prefix="prop_diff_")
    path = f"{d}/events.parquet"
    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False), path)
    t = LakeTable(spark, f"{d}/lake", n_buckets=4, track_changes=True)
    run_ingest(spark, path, t, epoch_size=max(n // 5, 50))
    head = t.current_version()
    assert head >= 2

    def norm(df):
        return (
            df.toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    cut = max(1, min(head - 1, int(head * cut_frac)))
    ranges = [(0, head), (cut, head), (0, cut)]
    # incremental vs full join on every range
    for a, b in ranges:
        inc = t._diff_incremental(a, b)
        assert inc is not None
        pd.testing.assert_frame_equal(
            norm(inc), norm(t._diff_full(a, b)), check_dtype=False
        )
    # compact a prefix range; all range diffs must be unchanged
    t.compact_changes(0, cut)
    for a, b in ranges:
        pd.testing.assert_frame_equal(
            norm(t.diff(a, b)), norm(t._diff_full(a, b)), check_dtype=False
        )


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n=st.integers(200, 600),
    ddl_at=st.floats(0.2, 0.8),
    truncate_first=st.booleans(),
)
def test_ddl_paths_agree_on_rename_collisions(
    spark, seed, n, ddl_at, truncate_first
):
    """Rename of a live repo ONTO another live repo (possibly after a
    truncate of the source) — the case real MySQL forbids, which our
    engine resolves by last-writer-wins. The python oracle's semantics
    are undefined here, so the two ENGINE paths (single-pass expression
    snapshot vs sequential apply_repo_ddl commits) are pinned to each
    other instead."""
    import random
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_binlog_spark.changelog.generator import EVENT_SCHEMA
    from mysql_binlog_spark.engine.pipeline import run_ingest, table_snapshot
    from mysql_binlog_spark.lake.table import LakeTable
    from mysql_binlog_spark.operators.ddl import snapshot_with_ddl

    ev = generate_events_pandas(
        ChangelogSpec(n_events=n, seed=seed, n_repos=5, p_delete=0.15)
    )
    # re-seq to even numbers; inject DDL at odd seqs mid-stream
    ev = ev.assign(seq=ev.seq * 2)
    rnd = random.Random(seed)
    repos = sorted(ev.repo.unique())
    src_repo, tgt_repo = rnd.sample(repos, 2)
    at = int(n * ddl_at) * 2 + 1
    stmts = []
    if truncate_first:
        stmts.append((at, f"TRUNCATE TABLE `{src_repo}`"))
        stmts.append((at + 2, f"RENAME TABLE {src_repo} TO {tgt_repo}"))
    else:
        stmts.append((at, f"RENAME TABLE {src_repo} TO {tgt_repo}"))
    ddl_rows = pd.DataFrame(
        [
            {
                "repo": "_", "path": "_", "seq": s, "op": "Q",
                "commit": "", "lang": None, "content": None,
                "before_content": None, "new_path": None, "statement": stmt,
            }
            for s, stmt in stmts
        ]
    )
    ev = pd.concat([ev, ddl_rows], ignore_index=True)

    d = tempfile.mkdtemp(prefix="prop_coll_")
    path = f"{d}/events.parquet"
    pq.write_table(
        pa.Table.from_pandas(ev, schema=EVENT_SCHEMA, preserve_index=False), path
    )

    def norm(df):
        cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
        return (
            df.toPandas()[cols].sort_values(["repo", "path"]).reset_index(drop=True)
        )

    single_pass = norm(snapshot_with_ddl(spark.read.parquet(path)))
    t = LakeTable(spark, f"{d}/lake", n_buckets=4)
    run_ingest(spark, path, t, epoch_size=max(n // 3, 50))
    sequential = norm(table_snapshot(t))
    pd.testing.assert_frame_equal(single_pass, sequential, check_dtype=False)
    # (src_repo may legitimately still exist: events AFTER the rename's
    # seq keep writing to it — only the pre-DDL keys moved)
    assert len(single_pass) > 0


def test_ddl_snapshot_many_renames_plan_bounded(spark):
    """Pinned falsifying example (seed=88, n=1403, p_ddl=0.02): ~28 DDL
    events including many renames. Each rename barrier embeds the working
    stream twice, so without lineage cuts the logical plan doubles per
    rename and Catalyst OOMs at plan-build time before any task runs.
    The checkpoint-every-4-barriers guard must keep this executable and
    correct."""
    from mysql_binlog_spark.operators.ddl import snapshot_with_ddl

    spec = ChangelogSpec(
        n_events=1403, seed=88, n_repos=8, p_delete=0.15, p_rename=0.05,
        p_update=0.3, p_insert=0.45, p_ddl=0.02,
    )
    ev = generate_events_pandas(spec)
    assert (ev["op"] == "Q").sum() >= 15  # the stressing shape is real
    got = (
        snapshot_with_ddl(spark.createDataFrame(ev))
        .toPandas()[SNAP_COLS]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    want = oracle_snapshot_from_pandas(ev)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ---------------------------------------------------------------------------
# binlog codecs: build -> parse roundtrips (pure Python, no Spark)
# ---------------------------------------------------------------------------


def _with_nul(text):
    """``text``, or a value from it with the codec's NUL separator inside."""
    return text | st.builds(lambda a, b: a + "\x00" + b, text, text)


# repo ids are schema names in QUERY/TABLE_MAP events (one length byte)
_REPO = _with_nul(st.text(max_size=12))
_FIELD = _with_nul(st.text(max_size=30))
# bodies past the 8 KiB rows-chunk buffer force multi-chunk transactions
_BODY = _FIELD | st.builds(
    lambda ch, n: ch * n, st.characters(codec="utf-8"), st.integers(8193, 12000)
)


def _assert_truncations_raise(blob, parse):
    """Every proper prefix of ``blob`` that ends on an event boundary (the
    magic alone included) fails to parse: a writer always ends a file
    with ROTATE, so a cut file never reads as a subset of its rows."""
    from mysql_binlog_spark.sinks.binlog_file import iter_binlog_events

    for _etype, _raw, _body, pos in iter_binlog_events(blob):
        with pytest.raises(ValueError):
            parse(blob[:pos])


@settings(max_examples=200, deadline=None)
@given(
    repo=_REPO,
    rows=st.lists(
        st.tuples(_FIELD, _FIELD, st.none() | _FIELD, _BODY), max_size=5
    ),
    xid=st.integers(1, 2**40),
    compress=st.booleans(),
)
def test_snapshot_codec_roundtrip(repo, rows, xid, compress):
    """Snapshot files parse back to exactly the rows framed, in order,
    with the 8 KiB chunking rule, and no truncation of them parses; NUL
    in a field the parser splits on (repo, commit, lang) is refused
    instead of silently mis-parsed."""
    from mysql_binlog_spark.sinks.binlog_file import (
        BUFFER_SIZE,
        build_binlog_file,
        parse_binlog_bytes,
    )

    full = [(repo, p, c, lg, ct) for p, c, lg, ct in rows]
    if full and (
        "\x00" in repo
        or any("\x00" in c or "\x00" in (lg or "") for _r, _p, c, lg, _ct in full)
    ):
        with pytest.raises(ValueError, match="contains NUL"):
            build_binlog_file(full, repo, xid=xid)
        return
    blob = build_binlog_file(full, repo, xid=xid)
    _assert_truncations_raise(blob, parse_binlog_bytes)
    if compress:
        blob = zlib.compress(blob)
    back = parse_binlog_bytes(blob)
    assert [
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"]) for r in back
    ] == full
    cum = 0
    for (r, p, c, lg, ct), got in zip(full, back):
        assert got["xid"] == xid and got["chunk_idx"] == cum // BUFFER_SIZE
        lang_len = 1 if lg is None else 1 + len(lg.encode())
        cum += (1 + 4 + 4 + len(r.encode()) + 1 + len(p.encode())
                + len(c.encode()) + 1 + lang_len + 1 + len(ct.encode()))


@st.composite
def _nc_row(draw):
    op = draw(st.sampled_from("IDU"))
    path = draw(_FIELD)
    old = draw(_BODY) if op in "DU" else None
    new = draw(_BODY) if op in "IU" else None
    commit = draw(_FIELD) if op in "IU" else None
    return path, op, old, new, commit


@settings(max_examples=200, deadline=None)
@given(
    repo=_REPO,
    rows=st.lists(_nc_row(), max_size=6),
    start_xid=st.integers(1, 2**40),
    compress=st.booleans(),
)
def test_netchange_codec_roundtrip(repo, rows, start_xid, compress):
    """Net-change files parse back to the rows framed, pass by pass (I, D,
    U) with their old images, each in the chunk that the cumulative
    encoded row size puts it in, and no truncation of them parses; NUL in
    the repo id is refused. Path, commit and content are length-prefixed
    columns, so NUL round-trips there."""
    from mysql_binlog_spark.sinks.binlog_file import (
        BUFFER_SIZE,
        _NETCHANGE,
        _encode_row,
        _netchange_row,
        build_netchange_file,
        parse_netchange_bytes,
    )

    if rows and "\x00" in repo:
        with pytest.raises(ValueError, match="contains NUL"):
            build_netchange_file(rows, repo, start_xid=start_xid)
        return
    blob = build_netchange_file(rows, repo, start_xid=start_xid)
    _assert_truncations_raise(blob, parse_netchange_bytes)
    if compress:
        blob = zlib.compress(blob)
    back = parse_netchange_bytes(blob)
    passes = [op for op in "IDU" if any(r[1] == op for r in rows)]
    want = [r for op in passes for r in rows if r[1] == op]
    assert [
        (r["path"], r["diff_op"], r["old_content"], r["new_content"],
         r["new_commit"]) for r in back
    ] == want
    assert all(r["repo"] == repo for r in back)
    xid_of = {op: start_xid + i for i, op in enumerate(passes)}
    assert [r["xid"] for r in back] == [xid_of[r[1]] for r in want]
    cum = dict.fromkeys(passes, 0)
    for row, got in zip(want, back):
        assert got["chunk_idx"] == cum[row[1]] // BUFFER_SIZE
        cum[row[1]] += len(_encode_row(_NETCHANGE, *_netchange_row(repo, *row)))
