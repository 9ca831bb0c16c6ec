"""Seeded benchmark inputs: changelog generation, DDL injection, landing layout.

A changelog is a pure function of its ``ChangelogPlan`` and the seed, so it
is cached under ``<work>/cache/<key>`` where the key hashes the plan, the
seed and the source of both the package generator and this module. Lake
tables and exports are never cached: each run builds its own.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
from dataclasses import asdict, dataclass, field
from random import Random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mysql_binlog_spark.changelog import generator
from mysql_binlog_spark.changelog.generator import (
    EVENT_SCHEMA,
    ChangelogSpec,
    generate_events_pandas,
)
from mysql_binlog_spark.changelog.oracle import replay_oracle
from mysql_binlog_spark.operators.ddl import DDL_SIDE_NAME

EVENTS_PER_FILE = 10_000
ROW_GROUP_SIZE = 2_500


@dataclass(frozen=True)
class ChangelogPlan:
    """What to generate: ``n_events`` row events over ``n_repos`` repos with
    the generator's default 80/20 hot-repo skew, plus one repo-level DDL
    per ``(seq, action)`` in ``ddl``: the DDL gets that seq and every event
    at or above it moves up by one.

    The generator's own ``p_ddl`` draws a random number of DDL events of
    random kinds, which would change the epoch plan from seed to seed; a
    fixed list keeps every seed's plan the same shape.
    """

    n_events: int
    n_repos: int = 200
    ddl: tuple[tuple[int, str], ...] = ()


@dataclass
class Changelog:
    path: str
    n_raw: int  # raw rows, DDL included, before rename expansion
    max_seq: int
    ddl: list[dict] = field(default_factory=list)  # {seq, action, repo, new_repo}
    cached: bool = False  # read from the cache rather than generated
    _seqs: np.ndarray | None = None

    def raw_in_range(self, lo: int, hi: int) -> int:
        """Raw input rows with ``lo < seq <= hi``, counted from the files
        (seqs have gaps where a truncate dropped a delete)."""
        if self._seqs is None:
            self._seqs = np.sort(
                pq.read_table(self.path, columns=["seq"]).column("seq").to_numpy()
            )
        s = self._seqs
        return int(np.searchsorted(s, hi, "right") - np.searchsorted(s, lo, "right"))


def _source_hash() -> str:
    h = hashlib.sha256()
    h.update(inspect.getsource(generator).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def cache_key(plan: ChangelogPlan, seed: int) -> str:
    blob = json.dumps(
        {"plan": asdict(plan), "seed": seed, "src": _source_hash()},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def ensure_changelog(cache_dir: str, plan: ChangelogPlan, seed: int) -> Changelog:
    """Return the cached changelog for (plan, seed), generating it once."""
    out = os.path.join(cache_dir, cache_key(plan, seed))
    meta_path = os.path.join(out, "meta.json")
    cached = os.path.exists(meta_path)
    if not cached:
        tmp = f"{out}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        events, ddl = _generate(plan, seed)
        _write_landing(events, os.path.join(tmp, "events"))
        meta = {
            "n_raw": len(events),
            "max_seq": int(events["seq"].max()),
            "ddl": ddl,
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(meta_path) as f:
        meta = json.load(f)
    return Changelog(
        os.path.join(out, "events"), meta["n_raw"], meta["max_seq"], meta["ddl"], cached
    )


def _generate(plan: ChangelogPlan, seed: int) -> tuple[pd.DataFrame, list[dict]]:
    spec = ChangelogSpec(n_events=plan.n_events, seed=seed, n_repos=plan.n_repos)
    df = generate_events_pandas(spec).astype(object).where(lambda d: d.notna(), None)
    df["seq"] = df["seq"].astype("int64")
    if not plan.ddl:
        return df, []
    rnd = Random(seed ^ 0x5EED)
    ddl: list[dict] = []
    for at, action in sorted(plan.ddl):
        df.loc[df["seq"] >= at, "seq"] += 1
        df, op = _inject(df, at, action, rnd, len(ddl), {d["repo"] for d in ddl})
        ddl.append(op)
    return df.sort_values("seq").reset_index(drop=True), ddl


def _inject(df: pd.DataFrame, s: int, action: str, rnd: Random, idx: int, used: set):
    """Insert one DDL row at seq ``s`` and rewrite the later events the
    generator produced without knowing about it, so the stream stays a
    valid row-event stream: after a rename the old repo's events carry the
    new name; after a truncate the first later event on each truncated key
    becomes an insert (an update) or is dropped (a delete)."""
    before = df[df["seq"] < s].to_dict("records")
    state = replay_oracle(before)
    live: dict[str, list[str]] = {}
    for repo, path in state:
        live.setdefault(repo, []).append(path)
    candidates = sorted(r for r in live if r not in used)
    repo = candidates[rnd.randrange(len(candidates))]
    later = df["seq"] > s
    if action == "rename":
        new_repo = f"repo-rn{idx:04d}"
        df.loc[later & (df["repo"] == repo), "repo"] = new_repo
        stmt = f"RENAME TABLE `{repo}` TO `{new_repo}`"
    elif action == "truncate":
        new_repo = None
        stmt = f"TRUNCATE TABLE `{repo}`"
        dead = set(live[repo])
        drop = []
        for i in df.index[later & (df["repo"] == repo)]:
            path = df.at[i, "path"]
            if path not in dead:
                continue
            dead.discard(path)
            op = df.at[i, "op"]
            if op == "D":
                drop.append(i)
            elif op == "U":
                if df.at[i, "new_path"] is not None:
                    df.at[i, "path"] = df.at[i, "new_path"]
                    df.at[i, "new_path"] = None
                df.at[i, "op"] = "I"
                df.at[i, "before_content"] = None
        df = df.drop(index=drop)
    else:
        raise ValueError(f"unsupported DDL action {action!r}")
    row = {c: None for c in EVENT_SCHEMA.names}
    row.update(seq=s, repo=repo, path="", op="Q", commit="0" * 40, statement=stmt)
    df = pd.concat([df, pd.DataFrame([row])], ignore_index=True)
    return df, {"seq": s, "action": action, "repo": repo, "new_repo": new_repo}


def _write_landing(events: pd.DataFrame, out_dir: str) -> None:
    """Seq-ordered part files plus the ``_ddl.parquet`` side stream stamped
    with the landing state, the layout the engine's planner reads."""
    os.makedirs(out_dir)
    table = pa.Table.from_pandas(events, schema=EVENT_SCHEMA, preserve_index=False)
    n_files = 0
    for start in range(0, table.num_rows, EVENTS_PER_FILE):
        pq.write_table(
            table.slice(start, EVENTS_PER_FILE),
            os.path.join(out_dir, f"part-{n_files:05d}.parquet"),
            row_group_size=ROW_GROUP_SIZE,
            compression="zstd",
        )
        n_files += 1
    side = table.filter(pc.equal(table.column("op"), "Q"))
    side = side.replace_schema_metadata(
        {"n_event_files": str(n_files), "max_seq": str(int(events["seq"].max()))}
    )
    pq.write_table(side, os.path.join(out_dir, DDL_SIDE_NAME), compression="zstd")
