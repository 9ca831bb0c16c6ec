"""DDL-statement handling: parse -> affected tables -> barrier semantics.

The reference inspects every QUERY event, extracts the affected table(s)
with regexes + a SQL parser (common/regx/regular.go:20-139,
common/regx/parser.go:12-108), and for each affected table flushes all
buffered data *before* the DDL is appended to the output
(backup/handler/merge.go:147-166) — multi-statement queries are split on
';' and each statement handled separately; RENAME with multiple
old->new pairs is split on ','; unqualified names get the event's schema
(db) prefixed; txn-control statements (BEGIN/COMMIT/ROLLBACK/SAVEPOINT)
are elided (merge.go:141-146).

Our model: the changelog's "table" is the repo. DDL events carry
``op='Q'`` and a ``statement`` column; row events leave it NULL.

Statement kinds and their state semantics (SURVEY §2.8 C7, §2.9 T8):

- TRUNCATE / DROP TABLE  -> every key of the repo whose last event is
  below the DDL's seq is deleted (re-inserts after the DDL survive);
- RENAME TABLE a TO b    -> repo a's LIVE state at the DDL's seq moves
  to repo b (possibly merging with b's own keys under last-writer-wins;
  a's tombstones do not travel — same as the reference replaying the
  rename against live table state);
- CREATE / ALTER / CREATE INDEX -> no state change; still a flush
  barrier in the epoch pipeline (the reference flushes-then-appends).

Parsing is driver-side Python over the (rare, metadata-scale) DDL rows —
the analog of the reference handling QUERY events on its single control
goroutine; row events never touch this path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: how the engine treats each parsed action
ACTION_CREATE = "create"
ACTION_ALTER = "alter"
ACTION_RENAME = "rename"
ACTION_DROP = "drop"
ACTION_TRUNCATE = "truncate"
ACTION_CREATE_INDEX = "create_index"
#: statement recognized as DDL-shaped but attributable to no table —
#: the reference's `public` stream (recover/main.go:148-181,
#: common/inter/constant.go:97): such statements still act as a global
#: flush barrier (replayed before all tables on recover) even though
#: they have no per-table state effect. Dropping them silently would
#: lose e.g. CREATE DATABASE / GRANT from the replayed stream.
ACTION_UNKNOWN = "unknown"
#: actions that change no row: each only fences its barrier position
BARRIER_ACTIONS = (ACTION_CREATE, ACTION_ALTER, ACTION_CREATE_INDEX, ACTION_UNKNOWN)

# name fragment: optionally backticked, optionally db-qualified; repo
# names here may contain '-' (unlike MySQL's default identifier charset)
_NAME = r"`?([A-Za-z0-9_\-]+)`?(?:\s*\.\s*`?([A-Za-z0-9_\-]+)`?)?"

_RE_CREATE_INDEX = re.compile(
    r"^CREATE\s+INDEX\s+\S+\s+ON\s+" + _NAME + r"\s*\(", re.I
)
_RE_CREATE = re.compile(
    r"^CREATE\s+TABLE(?:\s+IF\s+NOT\s+EXISTS)?\s+" + _NAME + r"\s*\(", re.I
)
_RE_ALTER = re.compile(r"^ALTER\s+TABLE\s+" + _NAME + r"\s+\S", re.I)
_RE_DROP = re.compile(
    r"^DROP\s+TABLE(?:\s+IF\s+EXISTS)?\s+" + _NAME + r"\s*(?:$|;|\s)", re.I
)
_RE_TRUNCATE = re.compile(
    r"^TRUNCATE\s+(?:TABLE\s+)?" + _NAME + r"\s*(?:$|;|\s)", re.I
)
_RE_RENAME_PAIR = re.compile(
    r"^\s*(?:RENAME\s+TABLE\s+)?" + _NAME + r"\s+TO\s+" + _NAME + r"\s*$", re.I
)
_RE_RENAME_HEAD = re.compile(r"^RENAME\s+TABLE\s+", re.I)

_TXN_CONTROL = {"BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT"}


@dataclass(frozen=True)
class ParsedDdl:
    """One parsed DDL statement.

    ``tables``: affected full names as ``db.table``. For renames,
    ``pairs`` additionally carries the (old, new) mapping in order.
    """

    action: str
    tables: tuple[str, ...]
    pairs: tuple[tuple[str, str], ...] = ()
    statement: str = ""


def _qualify(table: str, db: str | None, default_db: str) -> str:
    return f"{db or default_db}.{table}"


def parse_statement(stmt: str, default_db: str = "main") -> ParsedDdl | None:
    """Parse ONE statement. Returns None only for txn control / empty
    (elided, reference merge.go:141-146); anything else that does not
    match a table-attributable pattern comes back as
    ``ParsedDdl(action='unknown', tables=())`` — the 'public' stream
    entry: an engine-level flush barrier with no table effect, never a
    silent drop."""
    s = stmt.strip().rstrip(";").strip()
    if not s:
        return None
    first = s.split(None, 1)[0].upper()
    if first in _TXN_CONTROL:
        return None

    if _RE_RENAME_HEAD.match(s):
        body = _RE_RENAME_HEAD.sub("", s, count=1)
        pairs: list[tuple[str, str]] = []
        tables: list[str] = []
        for seg in body.split(","):
            m = _RE_RENAME_PAIR.match(seg)
            if not m:
                return ParsedDdl(ACTION_UNKNOWN, (), (), s)
            g = m.groups()  # (a_tb_or_db, a_tb, b_tb_or_db, b_tb)
            old = _qualify(g[1] or g[0], g[0] if g[1] else None, default_db)
            new = _qualify(g[3] or g[2], g[2] if g[3] else None, default_db)
            pairs.append((old, new))
            tables.extend((old, new))
        return ParsedDdl(ACTION_RENAME, tuple(tables), tuple(pairs), s)

    for action, rx in (
        (ACTION_CREATE_INDEX, _RE_CREATE_INDEX),
        (ACTION_CREATE, _RE_CREATE),
        (ACTION_ALTER, _RE_ALTER),
        (ACTION_DROP, _RE_DROP),
        (ACTION_TRUNCATE, _RE_TRUNCATE),
    ):
        m = rx.match(s)
        if m:
            a, b = m.group(1), m.group(2)
            table = _qualify(b or a, a if b else None, default_db)
            return ParsedDdl(action, (table,), (), s)
    return ParsedDdl(ACTION_UNKNOWN, (), (), s)


def parse_query(query: str, default_db: str = "main") -> list[ParsedDdl]:
    """Parse a QUERY-event payload: split multi-statement on ';', parse
    each, elide txn control, route unmatched statements to the 'public'
    barrier (reference merge.go:147-166; recover/main.go:148-181)."""
    out: list[ParsedDdl] = []
    for stmt in query.split(";"):
        p = parse_statement(stmt, default_db)
        if p is not None:
            out.append(p)
    return out


def repo_of(full_table: str, default_db: str = "main") -> str:
    """Map a parsed ``db.table`` name to the changelog's repo key: the
    table part (the db qualifier is our namespace default)."""
    return full_table.split(".", 1)[1] if "." in full_table else full_table


# ---------------------------------------------------------------------------
# changelog-level DDL application (the bounded 'merge' / snapshot path)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class DdlOp:
    """One state-affecting DDL occurrence, in stream order."""

    seq: int
    action: str  # 'truncate' | 'drop' | 'rename' | barrier-only actions
    repo: str | None = None
    new_repo: str | None = None


MAX_DDL_EVENTS = 100_000  # driver-side guard: DDL is metadata-scale

#: landing-protocol side stream: DDL rows copied here at landing time.
#: Leading underscore = hidden from Spark's directory scan of the
#: changelog itself.
DDL_SIDE_NAME = "_ddl.parquet"


def extract_ddl_ops_for_path(
    spark, events_path: str, events: DataFrame, default_db: str = "main"
) -> list[DdlOp]:
    """Fast path for the per-ingest DDL extraction: when the landing
    protocol wrote the DDL side stream (``<dir>/_ddl.parquet``), read the
    tiny side file instead of pushing an op='Q' filter through EVERY
    changelog file's footers each ingest cycle (the round-2 −11% ingest
    suspect). Read with pyarrow on the driver — the rows are driver-bound
    anyway (the plan is driver-side), and Spark's scanner would hide a
    ``_``-prefixed file. Falls back to scanning ``events`` when absent.

    Completeness guard: the side file carries the landing state it was
    derived from (part-file count + max landed seq, written by
    ``write_events_parquet_dir``). If files landed AFTER the side file
    was written — or the stamp is missing (pre-upgrade side file) — the
    side file may be missing barriers, so this falls back to the full
    ``events`` scan: a stale side stream must degrade to the slow path,
    never silently drop a TRUNCATE/RENAME."""
    import os

    side = os.path.join(events_path, DDL_SIDE_NAME)
    if os.path.isdir(events_path) and os.path.exists(side):
        import pyarrow.parquet as pq

        meta = pq.read_schema(side).metadata or {}
        fresh = False
        if b"n_event_files" in meta and b"max_seq" in meta:
            parts = [
                f
                for f in os.listdir(events_path)
                if not f.startswith(("_", ".")) and f.endswith(".parquet")
            ]
            if len(parts) == int(meta[b"n_event_files"]):
                # in-order landing puts the max seq in the lexically-last
                # part file; one footer read confirms it
                last = os.path.join(events_path, max(parts))
                pf = pq.ParquetFile(last)
                seq_idx = pf.schema_arrow.get_field_index("seq")
                landed_max = max(
                    pf.metadata.row_group(i).column(seq_idx).statistics.max
                    for i in range(pf.metadata.num_row_groups)
                )
                fresh = landed_max <= int(meta[b"max_seq"])
        if fresh:
            tbl = pq.read_table(side, columns=["seq", "statement"])
            if tbl.num_rows > MAX_DDL_EVENTS:
                raise ValueError(
                    f"more than {MAX_DDL_EVENTS} DDL events — stream is "
                    "mis-tagged?"
                )
            rows = sorted(tbl.to_pylist(), key=lambda r: r["seq"])
            return _parse_ddl_rows(rows, default_db)
        import logging

        logging.getLogger(__name__).warning(
            "DDL side file %s is stale or unstamped for the current "
            "landing state — falling back to the full changelog scan",
            side,
        )
    return extract_ddl_ops(events, default_db)


def extract_ddl_ops(events: DataFrame, default_db: str = "main") -> list[DdlOp]:
    """Collect and parse the stream's DDL events (op='Q'), in seq order.

    Driver-side by design: DDL frequency is orders of magnitude below row
    events (the reference also serializes DDL handling on its control
    loop). Guarded so a mis-tagged stream cannot OOM the driver.
    """
    if "statement" not in events.columns:
        return []
    rows = (
        events.filter(F.col("op") == "Q")
        .select("seq", "statement")
        .orderBy("seq")
        .limit(MAX_DDL_EVENTS + 1)
        .collect()
    )
    if len(rows) > MAX_DDL_EVENTS:
        raise ValueError(
            f"more than {MAX_DDL_EVENTS} DDL events — stream is mis-tagged?"
        )
    return _parse_ddl_rows(rows, default_db)


def _parse_ddl_rows(rows, default_db: str = "main") -> list[DdlOp]:
    """Shared seq-ordered (seq, statement) rows -> DdlOps."""
    ops: list[DdlOp] = []
    for r in rows:
        for p in parse_query(r["statement"] or "", default_db):
            if p.action == ACTION_RENAME:
                for old, new in p.pairs:
                    ops.append(
                        DdlOp(int(r["seq"]), "rename", repo_of(old), repo_of(new))
                    )
            elif p.action in (ACTION_DROP, ACTION_TRUNCATE):
                ops.append(DdlOp(int(r["seq"]), p.action, repo_of(p.tables[0])))
            else:
                # create / alter / create index: per-table barrier only;
                # 'unknown' (the public stream): GLOBAL barrier, no table
                repo = repo_of(p.tables[0]) if p.tables else None
                ops.append(DdlOp(int(r["seq"]), p.action, repo))
    return ops


def snapshot_with_ddl(events: DataFrame, default_db: str = "main") -> DataFrame:
    """Bounded-`merge` snapshot honoring DDL events, with each
    state-affecting DDL applied as a sequential barrier — EXACTLY the
    semantics of replaying the stream through the epoch pipeline
    (``LakeTable.apply_repo_ddl`` at real barriers; the reference replays
    DDL against live MySQL state, recover/main.go:148-181):

    - TRUNCATE/DROP at seq S: events of the repo below S are erased
      (a cheap filter — state at the barrier is discarded);
    - RENAME a->b at seq S: a's *live state at S* moves to b. BOTH
      repos' pre-S events are collapsed at the barrier and
      delete-winners dropped, because the rename acts on current table
      contents, not tombstone history — a key of ``a`` already dead at
      S must not kill ``b``'s own live key, and symmetrically ``b``'s
      own pre-S tombstone must not out-rank a moved row with a lower
      seq (the lake path sees neither: dead keys are physically absent
      from state). Surviving rows keep their seq, so collisions resolve
      under the engine-wide last-writer-wins rule, exactly like
      ``apply_repo_ddl``, whose re-keyed rows meet the target's rows in
      the MERGE winner order (newest seq wins).

    Each rename adds one extra bounded collapse (shuffle) of the renamed
    repo's events — DDL is metadata-scale, so the plan stays shallow; a
    rename-free stream keeps the single-shuffle shape.
    ``tests/test_property.py`` pins this path to the sequential lake path
    on rename collisions (including dead-source-key cases).
    """
    from mysql_binlog_spark.operators.collapse import (
        PAYLOAD_COLS,
        collapse_latest,
        expand_renames,
    )

    ops = extract_ddl_ops(events, default_db)
    null_s = F.lit(None).cast("string")
    # normalized working stream: every row targets exactly one key
    cur = expand_renames(events.filter(F.col("op") != "Q"))
    # Plan-size guard: every rename barrier embeds `cur` TWICE (the
    # surviving branch and the barrier collapse's input), so the logical
    # plan DOUBLES per rename — ~30 renames would OOM Catalyst before a
    # single task runs (found by the hypothesis fuzz: seed=88, n=1403,
    # p_ddl=0.02). Cut the lineage with a checkpoint every few barriers:
    # DDL is metadata-rate, so the extra materialization jobs are rare
    # and bounded by the working set — the sequential lake path
    # materializes state at EVERY barrier.
    renames_since_cut = 0
    for op in sorted(ops, key=lambda o: o.seq):
        if op.action in ("truncate", "drop"):
            cur = cur.filter(
                ~((F.col("repo") == op.repo) & (F.col("seq") < op.seq))
            )
        elif op.action == "rename":
            # BOTH sides collapse to live state at the barrier: the lake
            # path resolves the collision against the target's *state*
            # (tombstones physically absent), so a target key already
            # dead at S must not let its raw pre-S delete event outrank
            # a moved row with a lower seq in the final collapse — the
            # symmetric case of the dead-source rule above.
            pre = F.col("repo").isin(op.repo, op.new_repo) & (
                F.col("seq") < op.seq
            )
            barrier_state = (
                collapse_latest(cur.filter(pre))
                .filter(F.col("op") != "D")
                .select(
                    "seq",
                    # no same-(seq,sub) rival is possible on a collapsed
                    # key: seqs are unique per event, and one event's two
                    # expanded halves target different keys
                    F.lit(0).alias("sub"),
                    F.when(F.col("repo") == op.repo, F.lit(op.new_repo))
                    .otherwise(F.col("repo"))
                    .alias("repo"),
                    "path",
                    "op",
                    *PAYLOAD_COLS,
                    null_s.alias("before_content"),
                )
            )
            cur = cur.filter(~pre).unionByName(barrier_state)
            renames_since_cut += 1
            if renames_since_cut >= 4:
                cur = cur.localCheckpoint(eager=True)
                renames_since_cut = 0
    kept = collapse_latest(cur).filter(F.col("op") != "D")
    return kept.select(
        "repo",
        "path",
        *PAYLOAD_COLS,
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
