"""Independent DuckDB replay of a changelog and row-by-row comparisons.

The replay shares no code with the engine: rename expansion is a UNION ALL
of D(old key) + I(new key), the per-key winner is
``row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC, sub DESC)``,
and each repo-level DDL is applied as a barrier between seq segments.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

SNAPSHOT_KEY = ["repo", "path", "commit", "lang", "content_sha256"]


def replay(events_dir: str, ddl: list[dict], tmp_dir: str) -> pd.DataFrame:
    """Final table state of ``events_dir`` as (repo, path, commit, lang,
    content_sha256), sorted by key."""
    con = duckdb.connect(config={"threads": 2, "temp_directory": tmp_dir})
    try:
        con.execute(
            f"""
            CREATE TEMP TABLE norm AS
            WITH ev AS (
              SELECT * FROM read_parquet('{events_dir}/part-*.parquet')
              WHERE op <> 'Q'
            )
            SELECT seq, 0 AS sub, repo, path,
                   CASE WHEN op = 'U' AND new_path IS NOT NULL THEN 'D' ELSE op END AS op,
                   commit, lang, content
            FROM ev
            UNION ALL
            SELECT seq, 1, repo, new_path, 'I', commit, lang, content
            FROM ev WHERE op = 'U' AND new_path IS NOT NULL
            """
        )
        con.execute(
            "CREATE TEMP TABLE state AS SELECT * FROM norm WHERE false"
        )
        lo = -1
        for d in sorted(ddl, key=lambda d: d["seq"]) + [None]:
            hi = d["seq"] if d is not None else 1 << 62
            con.execute(
                f"""
                CREATE OR REPLACE TEMP TABLE state AS
                SELECT seq, sub, repo, path, op, commit, lang, content FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY seq DESC, sub DESC) AS rn
                  FROM (SELECT * FROM state
                        UNION ALL
                        SELECT * FROM norm WHERE seq > {lo} AND seq <= {hi})
                ) WHERE rn = 1 AND op <> 'D'
                """
            )
            if d is None:
                break
            if d["action"] in ("truncate", "drop"):
                con.execute("DELETE FROM state WHERE repo = ?", [d["repo"]])
            elif d["action"] == "rename":
                con.execute(
                    "UPDATE state SET repo = ? WHERE repo = ?",
                    [d["new_repo"], d["repo"]],
                )
            lo = hi
        return con.execute(
            "SELECT repo, path, commit, lang, sha256(content) AS content_sha256 "
            "FROM state ORDER BY repo, path"
        ).df()
    finally:
        con.close()


def _tuples(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    sub = df[cols].astype(object).where(df[cols].notna(), None)
    return sorted(map(tuple, sub.itertuples(index=False, name=None)), key=repr)


def mismatches(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> int:
    """Rows in one frame and not in the other (multiset difference)."""
    from collections import Counter

    a, b = Counter(_tuples(got, cols)), Counter(_tuples(want, cols))
    return sum(((a - b) + (b - a)).values())


def digest(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-independent sha256 of the rows, for traced/untraced equality."""
    h = hashlib.sha256()
    for t in _tuples(df, cols):
        h.update(repr(t).encode())
    return h.hexdigest()


def sha256_col(values) -> list[str | None]:
    return [
        hashlib.sha256(v.encode()).hexdigest() if isinstance(v, str) else None
        for v in values
    ]
