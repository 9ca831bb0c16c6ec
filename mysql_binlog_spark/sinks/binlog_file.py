"""Synthetic-binlog FILES: frame the engine's snapshots and net-change
streams as genuine MySQL binlog-v4 files, and parse them back.

The reference's restitute path writes compacted per-table files through
one set of go-mysql event encoders (common/log/bin.go:28-207: file header,
FDE, BEGIN, TableMap, rows chunks cut at the 8KB BinlogBufferSize, XID,
rotate; backup/binlog/repl.go:706-992 drives it per table). The framing is
the PUBLIC binlog v4 layout: 19-byte event headers (timestamp, type,
server_id, event_size, log_pos = the event's END position, flags), body,
CRC32-IEEE footer.

One codec serves two table layouts. A ``_Layout`` gives the TABLE_MAP's
table name and column count and, per op, the rows event type and the
fields of each row image; an image's columns-present bitmap is the set of
fields it names. Every column is a BLOB with a 4-byte length prefix and
nothing is nullable. The TABLE_MAP and ROWS bodies, the image encoder, the
framer, the Spark size expression, the rotation planner and the parser
all work from that description.

- ``_SNAPSHOT`` (table ``files``): 2 columns, one ``I`` pass under bitmap
  0b11: ``key = repo \\x00 path``, ``value = commit \\x00 (\\x00 |
  \\x01 lang) \\x00 content``. A file is one transaction.
- ``_NETCHANGE`` (table ``changes``): 3 columns ``(key, commit, content)``
  in the reference's passes, WRITE_ROWS then DELETE_ROWS then UPDATE_ROWS,
  one transaction each (backup/binlog/repl.go:770-800 ``dumpBinlog``),
  with binlog-v2 partial images: I after 0b111, D before 0b101 (key, old
  content), U both — so a parse recovers old images too.

Chunking rule, SQL-reproducible: within a transaction a row goes to chunk
floor(cum_bytes_before_row / 8192), a row's size being its encoded
images. A chunk overshoots 8192 by at most one row, exactly the
reference's `size > BinlogBufferSize` flush (repl.go:909); the DuckDB
oracle of `cdc_binlog_file_export` recomputes it with a window cumsum.
ROTATION applies the same rule at ``max_file_bytes`` with a Spark window
cumsum of ``_size_expr``, and the writers group by (repo, segment), so no
writer task holds much more than ``max_file_bytes`` of a hot repo.

Executors build and write the files inside applyInPandas; net-change tar
consolidation runs on driver threads with no Spark job. Readers list the
tree on the driver with ``_binlog_paths`` (``apply_binlog_dir``'s
walk) and parse on the executors, verifying magic, sizes, every CRC32,
the rows/XID protocol and the ROTATE trailer ending every written file.

Fields the parser splits on NUL (``repo``; the snapshot's ``commit`` and
``lang``) must not hold one: the encoders raise ``ValueError`` rather than
export bytes that parse back as different rows.
"""

from __future__ import annotations

import hashlib
import io
import os
import struct
import tarfile
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

BINLOG_MAGIC = b"\xfebin"
BUFFER_SIZE = 8 * 1024  # the reference's BinlogBufferSize (8KB rows chunks)
HEADER_LEN = 19
STMT_END_F = 0x01

# event type codes (public binlog v4)
FORMAT_DESCRIPTION_EVENT = 15
QUERY_EVENT = 2
TABLE_MAP_EVENT = 19
WRITE_ROWS_EVENT_V2 = 30
UPDATE_ROWS_EVENT_V2 = 31
DELETE_ROWS_EVENT_V2 = 32
XID_EVENT = 16
ROTATE_EVENT = 4

SERVER_ID = 1
SERVER_VERSION = b"5.7.99-mysql-binlog-spark"
TABLE_ID = 1
_POST_HEADER_LENS = 39  # v4 post-header length table size we emit

NETCHANGE_KIND = "chg"

FILE_MANIFEST_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("file_name", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_chunks", T.LongType(), False),
    T.StructField("byte_len", T.LongType(), False),
    T.StructField("file_sha256", T.StringType(), False),
])

PARSED_ROW_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("chunk_idx", T.LongType(), False),
    T.StructField("xid", T.LongType(), False),
])

NETCHANGE_MANIFEST_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("file_name", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_inserts", T.LongType(), False),
    T.StructField("n_deletes", T.LongType(), False),
    T.StructField("n_updates", T.LongType(), False),
    T.StructField("start_seq", T.LongType(), False),
    T.StructField("end_seq", T.LongType(), False),
    T.StructField("byte_len", T.LongType(), False),
    T.StructField("compressed", T.BooleanType(), False),
    T.StructField("file_sha256", T.StringType(), False),
])

NETCHANGE_ROW_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("diff_op", T.StringType(), False),
    T.StructField("old_content", T.StringType(), True),
    T.StructField("new_content", T.StringType(), True),
    T.StructField("new_commit", T.StringType(), True),
    T.StructField("chunk_idx", T.LongType(), False),
    T.StructField("xid", T.LongType(), False),
])


# -- layouts -----------------------------------------------------------------


class _Layout(NamedTuple):
    """One binlog table layout. ``passes`` maps each op, in file order, to
    its rows event type and the fields of each row image, one entry per
    column (None = column absent from that image)."""

    table: bytes
    ncols: int
    passes: dict[str, tuple[int, tuple[tuple[str | None, ...], ...]]]
    schema: T.StructType
    decode: Callable[[str, dict[str, bytes]], dict]


def _bitmap(image: tuple[str | None, ...]) -> int:
    """Columns-present bitmap of an image: bit i set when column i is."""
    return sum(1 << i for i, f in enumerate(image) if f)


def _split_key(key: bytes) -> dict:
    repo, path = key.split(b"\x00", 1)
    return {"repo": repo.decode(), "path": path.decode()}


def _decode_snapshot(_op: str, f: dict[str, bytes]) -> dict:
    commit, rest = f["value"].split(b"\x00", 1)
    if rest[:1] == b"\x00":  # lang-null marker
        lang, content = None, rest[2:]
    else:  # \x01 + lang + \x00 + content
        lang_b, content = rest[1:].split(b"\x00", 1)
        lang = lang_b.decode()
    return {**_split_key(f["key"]), "commit": commit.decode(), "lang": lang,
            "content": content.decode()}


def _decode_netchange(op: str, f: dict[str, bytes]) -> dict:
    rec = {**_split_key(f["key"]), "diff_op": op}
    for c in ("old_content", "new_content", "new_commit"):
        rec[c] = f[c].decode() if c in f else None
    return rec


_BEFORE = ("key", None, "old_content")
_AFTER = ("key", "new_commit", "new_content")

_SNAPSHOT = _Layout(
    b"files", 2, {"I": (WRITE_ROWS_EVENT_V2, (("key", "value"),))},
    PARSED_ROW_SCHEMA, _decode_snapshot,
)
#: pass order mirrors the reference's dumpBinlog: inserts, deletes, updates
_NETCHANGE = _Layout(
    b"changes", 3, {"I": (WRITE_ROWS_EVENT_V2, (_AFTER,)),
                    "D": (DELETE_ROWS_EVENT_V2, (_BEFORE,)),
                    "U": (UPDATE_ROWS_EVENT_V2, (_BEFORE, _AFTER))},
    NETCHANGE_ROW_SCHEMA, _decode_netchange,
)


# -- event bodies ------------------------------------------------------------


def _event(etype: int, body: bytes, log_pos: int) -> bytes:
    """One framed event: 19-byte header + body + CRC32(header+body)."""
    size = HEADER_LEN + len(body) + 4
    header = struct.pack("<IBIIIH", 0, etype, SERVER_ID, size, log_pos + size, 0)
    crc = zlib.crc32(header + body) & 0xFFFFFFFF
    return header + body + struct.pack("<I", crc)


def _fde_body() -> bytes:
    """FORMAT_DESCRIPTION: binlog_version=4, 50-byte server version,
    create_ts, header_len, post-header length table, checksum alg byte."""
    post = bytearray(_POST_HEADER_LENS)
    post[QUERY_EVENT - 1] = 13
    post[ROTATE_EVENT - 1] = 8
    # the FDE's self-entry is its own fixed-part size (2 version + 50
    # server-version + 4 create_ts + 1 header_len + the table itself) — a
    # strict external binlog-v4 consumer validates this value
    post[FORMAT_DESCRIPTION_EVENT - 1] = 2 + 50 + 4 + 1 + _POST_HEADER_LENS
    post[TABLE_MAP_EVENT - 1] = 8
    post[WRITE_ROWS_EVENT_V2 - 1] = 10
    post[UPDATE_ROWS_EVENT_V2 - 1] = 10
    post[DELETE_ROWS_EVENT_V2 - 1] = 10
    return (
        struct.pack("<H", 4)
        + SERVER_VERSION.ljust(50, b"\x00")
        + struct.pack("<I", 0)
        + struct.pack("<B", HEADER_LEN)
        + bytes(post)
        + b"\x01"  # BINLOG_CHECKSUM_ALG_CRC32
    )


def _query_body(schema: bytes, query: bytes) -> bytes:
    """QUERY event (BEGIN): 13-byte post-header + schema\\0 + query."""
    return (
        struct.pack("<IIBHH", 0, 0, len(schema), 0, 0)  # proxy_id, exec_time,
        + schema + b"\x00" + query                      # schema_len, err, sv_len
    )


def _table_map_body(layout: _Layout, schema: bytes) -> bytes:
    """TABLE_MAP: table_id(6) flags(2) schema table; ``ncols`` BLOB
    columns with meta=4 (4-byte length prefixes), nothing nullable."""
    n = layout.ncols
    return (
        TABLE_ID.to_bytes(6, "little")
        + struct.pack("<H", 0)
        + bytes([len(schema)]) + schema + b"\x00"
        + bytes([len(layout.table)]) + layout.table + b"\x00"
        + bytes([n]) + bytes([252] * n)  # column count, MYSQL_TYPE_BLOB
        + bytes([n]) + bytes([4] * n)    # metadata: 4-byte length prefix
        + b"\x00"                        # null bitmap: none nullable
    )


def _rows_body(layout: _Layout, images, payload: bytes, flags: int) -> bytes:
    """ROWS v2: table_id(6) flags(2) extra_len(2)=2, column count, one
    columns-present bitmap per image (UPDATE carries two), row images."""
    return (
        TABLE_ID.to_bytes(6, "little")
        + struct.pack("<HH", flags, 2)
        + bytes([layout.ncols] + [_bitmap(img) for img in images])
        + payload
    )


# -- encoder and framer ------------------------------------------------------


def safe_file_component(repo: str) -> str:
    """Injective, filesystem-safe encoding of a repo id for a file name:
    ids contain '/' ('org/name'), and '..' or an absolute prefix would
    escape out_dir. Percent-encodes everything outside [A-Za-z0-9._-]; a
    leading '.' is encoded too, so no dot-segment can form."""
    from urllib.parse import quote

    enc = quote(repo, safe="._-")
    return "%2E" + enc[1:] if enc.startswith(".") else enc


def _no_nul(field: str, value: str) -> str:
    """``value`` unchanged; raises if it holds the codec's NUL separator
    (the parser would split there and return a different row)."""
    if "\x00" in value:
        raise ValueError(f"binlog export: {field} {value!r} contains NUL")
    return value


def _key(repo: str, path: str) -> bytes:
    return _no_nul("repo", repo).encode() + b"\x00" + path.encode()


def _snapshot_row(repo, path, commit, lang, content) -> tuple[str, dict]:
    """(op, fields) of one snapshot row; a null commit or content leaves
    ``value`` unset, which the encoder refuses."""
    value = None
    if commit is not None and content is not None:
        lang_part = b"\x00" if lang is None else b"\x01" + _no_nul("lang", lang).encode()
        value = (_no_nul("commit", commit).encode() + b"\x00" + lang_part
                 + b"\x00" + content.encode())
    return "I", {"key": _key(repo, path), "value": value}


def _netchange_row(repo, path, op, *values) -> tuple[str, dict]:
    """(op, fields) of one net-change row; ``values`` = old_content,
    new_content, new_commit."""
    names = ("old_content", "new_content", "new_commit")
    return op, {"key": _key(repo, path),
                **{k: v if v is None else v.encode() for k, v in zip(names, values)}}


def _encode_row(layout: _Layout, op: str, fields: dict) -> bytes:
    """A row's images under its op's bitmaps. Each image is a null-bitmap
    byte (0x00: nothing null) then each present column length-prefixed."""
    out = bytearray()
    for image in layout.passes[op][1]:
        out += b"\x00"
        for f in filter(None, image):
            if fields[f] is None:
                raise ValueError(
                    f"binlog export: {op} row {fields['key']!r} is missing "
                    "its required image columns"
                )
            out += struct.pack("<I", len(fields[f])) + fields[f]
    return bytes(out)


def _frame(layout: _Layout, repo: str, rows: list[tuple[str, dict]],
           start_xid: int, next_name: str) -> tuple[bytes, int]:
    """Frame ``rows`` ((op, fields), in file order) as one complete binlog
    file -> (bytes, rows-event count). Each op pass present is one BEGIN /
    TABLE_MAP / <=8KB-chunked rows events / XID transaction, with xids
    counting up from ``start_xid``; a single-pass layout frames its pass
    even when empty. ROTATE names ``next_name``."""
    stray = sorted({op for op, _ in rows} - set(layout.passes))
    if stray:
        raise ValueError(f"binlog export: unknown diff_op {stray[0]!r} "
                         f"for repo {repo!r}")
    out = bytearray(BINLOG_MAGIC)

    def emit(etype: int, body: bytes) -> None:
        out.extend(_event(etype, body, len(out)))

    emit(FORMAT_DESCRIPTION_EVENT, _fde_body())
    xid, n_chunks = start_xid, 0
    for op, (etype, images) in layout.passes.items():
        encoded = [_encode_row(layout, op, f) for o, f in rows if o == op]
        if not encoded and len(layout.passes) > 1:
            continue
        emit(QUERY_EVENT, _query_body(repo.encode(), b"BEGIN"))
        emit(TABLE_MAP_EVENT, _table_map_body(layout, repo.encode()))
        # accumulate-then-flush-on-overflow chunking (module docstring)
        chunks: list[bytearray] = [bytearray()]
        cum = 0
        for enc in encoded:
            while cum // BUFFER_SIZE >= len(chunks):
                chunks.append(bytearray())
            chunks[cum // BUFFER_SIZE].extend(enc)
            cum += len(enc)
        for i, ch in enumerate(chunks):
            flags = STMT_END_F if i == len(chunks) - 1 else 0
            emit(etype, _rows_body(layout, images, bytes(ch), flags))
        emit(XID_EVENT, struct.pack("<Q", xid))
        xid, n_chunks = xid + 1, n_chunks + len(chunks)
    emit(ROTATE_EVENT, struct.pack("<Q", len(out)) + next_name.encode())
    return bytes(out), n_chunks


def build_binlog_file(rows: list[tuple[str, str, str, str | None, str]],
                      repo: str, xid: int = 1) -> bytes:
    """Frame one transaction's (repo, path, commit, lang, content) rows
    (already path-ordered) as a complete snapshot binlog file. Pure
    function of its inputs — usable driver-side for tests and inside the
    executor writer."""
    return _frame(_SNAPSHOT, repo, [_snapshot_row(*r) for r in rows], xid,
                  f"{repo}.next")[0]


def build_netchange_file(
    rows: list[tuple[str, str, str | None, str | None, str | None]],
    repo: str, start_xid: int = 1, next_name: str = "",
) -> bytes:
    """Frame one rotation segment's net-change rows as a complete binlog
    file: one transaction per op pass present (I, D, U — the reference's
    three-pass restitute), ROTATE trailer naming the next segment.
    ``rows`` = (path, op, old_content, new_content, new_commit) tuples,
    already (seq, path)-ordered. Pure function of its inputs."""
    return _frame(_NETCHANGE, repo, [_netchange_row(repo, *r) for r in rows],
                  start_xid, next_name)[0]


# -- distributed writers -----------------------------------------------------


def _field_len(field: str):
    """Encoded byte length of one layout field, as a Spark expression."""
    if field == "key":
        return F.octet_length("repo") + 1 + F.octet_length("path")
    if field == "value":
        return (
            F.octet_length("commit") + 1
            + F.when(F.col("lang").isNull(), 1).otherwise(1 + F.octet_length("lang"))
            + 1 + F.octet_length("content")
        )
    return F.octet_length(field)


def _size_expr(layout: _Layout):
    """``len(_encode_row(...))`` as a Spark expression over the export
    columns (a parity test pins the two together); a multi-pass layout
    takes its op from ``diff_op``."""
    op = F.col("diff_op") if len(layout.passes) > 1 else F.lit("I")
    expr = F  # F.when opens the CASE, Column.when extends it
    for o, (_etype, images) in layout.passes.items():
        size = sum(1 + sum(4 + _field_len(f) for f in filter(None, image))
                   for image in images)
        expr = expr.when(op == o, size)
    return expr.cast("long")


def _with_segments(df: DataFrame, layout: _Layout, order: list[str],
                   max_file_bytes: int) -> DataFrame:
    """Add ``_seg`` = floor(cum_bytes_before_row / max_file_bytes) over a
    repo's rows in ``order`` — the 8KB chunk rule at file scale, so a
    segment overshoots by at most one row."""
    w = Window.partitionBy("repo").orderBy(*order)
    cum_before = F.coalesce(
        F.sum(_size_expr(layout)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return df.withColumn(
        "_seg", F.floor(cum_before / F.lit(max_file_bytes)).cast("long")
    )


def _build_per_group(df: DataFrame, keys: list[str], build,
                     schema: T.StructType) -> DataFrame:
    """Run the file builder ``build`` once per ``keys`` group on every
    core. The counted repartition is the builder stage's only exchange
    (it satisfies the groupBy's clustering), and AQE leaves a
    repartition with an explicit count alone: export rows are small, so
    byte-sized coalescing would fold the whole Python stage into one
    task. On the rotated path it is also what spreads a hot repo's
    segments over the cluster: the window's repo-only partitioning would
    satisfy a (repo, _seg) groupBy by itself. ``build`` sorts its group,
    so partition layout never reaches the bytes."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n, *keys).groupBy(*keys)
        .applyInPandas(build, schema=schema)
    )


def _write_file(dirpath: str, name: str, blob: bytes) -> dict:
    """Write ``blob`` as ``dirpath/name`` through a dotted temp file and
    ``os.replace``; returns its manifest byte_len and file_sha256."""
    tmp = os.path.join(dirpath, f".{name}.tmp-{os.getpid()}")
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, os.path.join(dirpath, name))
    return {"byte_len": len(blob), "file_sha256": hashlib.sha256(blob).hexdigest()}


def write_binlog_files(
    snapshot: DataFrame, out_dir: str, max_file_bytes: int | None = None
) -> DataFrame:
    """Export a (repo, path, commit, lang, content) snapshot as binlog
    files, one per repo (the reference's per-table compacted output,
    common/inter/constant.go:134-136). Executors write the files; returns
    the per-file manifest.

    ``max_file_bytes`` rotates over path order into files
    ``binlog-{repo}.{seg:05d}.log``. Without it (the default, and the
    oracle-checked contract shape) a repo is one transaction in one file
    ``binlog-{repo}.log`` and its whole snapshot materializes in one
    pandas frame, so at lake scale a hot repo needs the rotation bound.
    """
    os.makedirs(out_dir, exist_ok=True)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("path")
        repo = pdf["repo"].iloc[0]
        seg = int(pdf["_seg"].iloc[0]) if "_seg" in pdf.columns else None
        rows = [
            _snapshot_row(*r)
            for r in zip(pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"],
                         pdf["content"])
        ]
        blob, n_chunks = _frame(_SNAPSHOT, repo, rows,
                                1 if seg is None else seg + 1, f"{repo}.next")
        enc_repo = safe_file_component(repo)
        name = (f"binlog-{enc_repo}.log" if seg is None
                else f"binlog-{enc_repo}.{seg:05d}.log")
        return pd.DataFrame([{
            "repo": repo, "file_name": name, "n_rows": len(rows),
            "n_chunks": n_chunks, **_write_file(out_dir, name, blob),
        }])

    df = snapshot.select("repo", "path", "commit", "lang", "content")
    keys = ["repo"]
    if max_file_bytes is not None:
        df = _with_segments(df, _SNAPSHOT, ["path"], max_file_bytes)
        keys = ["repo", "_seg"]
    return _build_per_group(df, keys, build, FILE_MANIFEST_SCHEMA)


def write_netchange_binlog_files(
    changes: DataFrame,
    out_dir: str,
    max_file_bytes: int | None = None,
    compress: bool = False,
) -> DataFrame:
    """Export a net-change set (``LakeTable.diff(v0, v1,
    keep_lineage=True)``: repo, path, diff_op, seq, old_content,
    new_content, new_commit) as binlog files
    ``out_dir/<safe repo>/chg_{start}_{end}.log[.z]`` (the reference's
    naming, common/inter/constant.go:82,134-139); start/end are SEQ
    bounds. ``max_file_bytes`` rotates over (seq, path) order, each
    segment a complete file whose ROTATE names the next segment's prefix
    (NextPrefix, constant.go:137-139); ``None`` keeps one file per repo.
    ``compress`` writes whole-stream zlib ``.log.z`` (cfs.go:62-68).
    Executors write the files; returns the per-file manifest.
    """
    os.makedirs(out_dir, exist_ok=True)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["seq", "path"])
        # Arrow->pandas can surface SQL NULLs as NaN; normalize to None so
        # the per-op image check sees real nulls
        pdf = pdf.astype(object).where(pd.notnull(pdf), None)
        repo = pdf["repo"].iloc[0]
        seg, last_seg = int(pdf["_seg"].iloc[0]), int(pdf["_max_seg"].iloc[0])
        rows = [
            _netchange_row(repo, *r)
            for r in zip(pdf["path"], pdf["diff_op"], pdf["old_content"],
                         pdf["new_content"], pdf["new_commit"])
        ]
        start, end = int(pdf["seq"].iloc[0]), int(pdf["seq"].iloc[-1])
        nxt = f"{NETCHANGE_KIND}_{end:010d}" if seg < last_seg else ""
        blob = _frame(_NETCHANGE, repo, rows, 3 * seg + 1, nxt)[0]
        name = f"{NETCHANGE_KIND}_{start:010d}_{end:010d}.log"
        if compress:
            blob = zlib.compress(blob, 6)
            name += ".z"
        enc_repo = safe_file_component(repo)
        os.makedirs(os.path.join(out_dir, enc_repo), exist_ok=True)
        ops = [op for op, _ in rows]
        return pd.DataFrame([{
            "repo": repo, "file_name": f"{enc_repo}/{name}", "n_rows": len(rows),
            "n_inserts": ops.count("I"), "n_deletes": ops.count("D"),
            "n_updates": ops.count("U"), "start_seq": start, "end_seq": end,
            "compressed": compress,
            **_write_file(os.path.join(out_dir, enc_repo), name, blob),
        }])

    df = changes.select("repo", "path", "diff_op", "seq", "old_content",
                        "new_content", "new_commit")
    if max_file_bytes is None:
        df = df.withColumn("_seg", F.lit(0)).withColumn("_max_seg", F.lit(0))
        keys = ["repo"]
    else:
        df = _with_segments(df, _NETCHANGE, ["seq", "path"], max_file_bytes)
        df = df.withColumn("_max_seg", F.max("_seg").over(Window.partitionBy("repo")))
        keys = ["repo", "_seg"]
    return _build_per_group(df, keys, build, NETCHANGE_MANIFEST_SCHEMA)


# -- parser and reader -------------------------------------------------------


def iter_binlog_events(blob: bytes):
    """Validated walk over one binlog file: yields (etype, raw_event,
    body, pos) per event, where ``raw_event`` is the complete framed
    event (header+body+CRC — what BINLOG-statement replay base64s) and
    ``body`` excludes header and CRC. Verifies the magic, every event's
    size/log_pos bookkeeping and CRC32; accepts whole-stream zlib."""
    if blob[:1] == b"\x78" and not blob.startswith(BINLOG_MAGIC):
        blob = zlib.decompress(blob)
    if not blob.startswith(BINLOG_MAGIC):
        raise ValueError("not a binlog file (bad magic)")
    pos = len(BINLOG_MAGIC)
    while pos < len(blob):
        if pos + HEADER_LEN > len(blob):
            raise ValueError(f"truncated event header at byte {pos}")
        _ts, etype, _sid, size, log_pos, _flags = struct.unpack(
            "<IBIIIH", blob[pos:pos + HEADER_LEN]
        )
        if size < HEADER_LEN + 4 or pos + size > len(blob):
            raise ValueError(f"bad event size {size} at byte {pos}")
        if log_pos != pos + size:
            raise ValueError(
                f"log_pos {log_pos} != end position {pos + size} at {pos}"
            )
        raw = blob[pos:pos + size]
        body = raw[HEADER_LEN:-4]
        (crc,) = struct.unpack("<I", raw[-4:])
        if zlib.crc32(raw[:-4]) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC32 mismatch in event at byte {pos}")
        yield etype, raw, body, pos
        pos += size


def _parse(blob: bytes, layout: _Layout) -> list[dict]:
    """Decode one binlog file of ``layout`` -> row dicts with chunk_idx
    (per transaction) and xid. Beyond ``iter_binlog_events``' checks it
    verifies the FDE version, each rows event's column count and bitmaps,
    the STMT_END -> XID protocol and the ROTATE trailer, so a truncated
    or malformed file fails loudly instead of parsing as a subset."""
    rows: list[dict] = []
    pending: list[dict] = []
    chunk_idx, etype = 0, None
    saw_fde = saw_stmt_end = False
    op_of = {et: op for op, (et, _images) in layout.passes.items()}
    for etype, _raw, body, pos in iter_binlog_events(blob):
        if etype == FORMAT_DESCRIPTION_EVENT:
            if struct.unpack("<H", body[:2])[0] != 4:
                raise ValueError("unsupported binlog version")
            saw_fde = True
        elif etype in op_of:
            if not saw_fde:
                raise ValueError("rows event before FORMAT_DESCRIPTION")
            op = op_of[etype]
            images = layout.passes[op][1]
            head = bytes([layout.ncols] + [_bitmap(img) for img in images])
            off = 10 + len(head)  # table_id, flags, extra, ncols, bitmaps
            if body[10:off] != head:
                raise ValueError(f"rows event at byte {pos} does not match "
                                 f"the {layout.table.decode()} layout")
            while off < len(body):
                fields = {}
                for image in images:
                    off += 1  # null bitmap byte (nothing null in a layout)
                    for f in filter(None, image):
                        (n,) = struct.unpack_from("<I", body, off)
                        fields[f] = body[off + 4:off + 4 + n]
                        off += 4 + n
                pending.append(
                    {**layout.decode(op, fields), "chunk_idx": chunk_idx, "xid": -1}
                )
            if off != len(body):
                raise ValueError(f"row image overruns the rows event at byte {pos}")
            chunk_idx += 1
            if struct.unpack("<H", body[6:8])[0] & STMT_END_F:
                saw_stmt_end = True
        elif etype == XID_EVENT:
            if not saw_stmt_end and pending:
                raise ValueError("XID before the STMT_END rows chunk")
            (xid,) = struct.unpack("<Q", body[:8])
            for r in pending:
                r["xid"] = xid
            rows.extend(pending)
            pending, chunk_idx, saw_stmt_end = [], 0, False
    if pending:
        raise ValueError("rows chunks with no committing XID event")
    if etype != ROTATE_EVENT:
        raise ValueError("truncated binlog file: it does not end with ROTATE")
    return rows


def parse_binlog_bytes(blob: bytes) -> list[dict]:
    """Decode one snapshot binlog file -> row dicts (repo, path, commit,
    lang, content, chunk_idx, xid); malformed input fails loudly."""
    return _parse(blob, _SNAPSHOT)


def parse_netchange_bytes(blob: bytes) -> list[dict]:
    """Decode one net-change binlog file (plain or whole-stream zlib) ->
    row dicts (repo, path, diff_op, old_content, new_content, new_commit,
    chunk_idx, xid); malformed input fails loudly."""
    return _parse(blob, _NETCHANGE)


def _binlog_paths(path: str) -> list[str]:
    """Every binlog file under ``path`` in apply order: a sorted recursive
    walk keeping ``.log``, ``.log.z`` and ``.tar`` names and skipping
    dotfiles (a crashed writer's temp file is never output). Zero-padded
    seqs make name order seq order."""
    return [
        os.path.join(root, n)
        for root, _dirs, names in sorted(os.walk(path))
        for n in sorted(names)
        if not n.startswith(".") and n.endswith((".log", ".log.z", ".tar"))
    ]


def _binlog_blobs(path: str) -> Iterator[bytes]:
    """The binlog streams in one listed file: a ``.tar``'s file members
    in name order, or the file itself."""
    if not path.endswith(".tar"):
        with open(path, "rb") as f:
            yield f.read()
        return
    with tarfile.open(path) as tf:
        for member in sorted(tf.getmembers(), key=lambda m: m.name):
            if member.isfile():
                yield tf.extractfile(member).read()


def _read(spark, path: str, layout: _Layout) -> DataFrame:
    """Distributed parse of a binlog tree: the driver lists it, and the
    executors parse from a local relation of paths — no file-source
    listing job, however many repo directories the tree holds."""
    import pyarrow as pa

    if not os.path.isdir(path):
        raise FileNotFoundError(f"no binlog directory at {path!r}")
    paths = spark.createDataFrame(
        pa.table({"path": pa.array(_binlog_paths(path), pa.string())}),
        schema="path string",
    )
    cols = layout.schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                r for p in pdf["path"] for blob in _binlog_blobs(p)
                for r in _parse(blob, layout)
            ]
            yield pd.DataFrame(recs, columns=cols)

    return paths.mapInPandas(run, schema=layout.schema)


def read_binlog_files(spark, path: str) -> DataFrame:
    """Distributed parse of a snapshot binlog-file directory back into
    rows — the roundtrip proof that the framing is real."""
    return _read(spark, path, _SNAPSHOT)


def read_netchange_binlog_files(spark, out_dir: str) -> DataFrame:
    """Distributed parse of a net-change export tree (including rotated
    segments, ``.z`` zlib files and ``.tar`` consolidation archives) back
    into diff rows — the roundtrip proof for the D/U framing."""
    return _read(spark, out_dir, _NETCHANGE)


# -- tar consolidation -------------------------------------------------------


def _segment_seqs(name: str) -> tuple[int, int]:
    """(start, end) seqs of a ``chg_{start}_{end}.*`` segment or tar."""
    _kind, start, end = name.split(".")[0].split("_")
    return int(start), int(end)


def consolidate_netchange_exports(spark, out_dir: str) -> DataFrame:
    """Fold each repo's rotated segment files into ONE rolling
    ``chg_{min}_{max}.tar`` archive and remove the originals — the
    reference's tar consolidation (common/client/cfs.go:84-171,
    constant.go:141-143). The readers and the applier open tar members
    in name order, which zero-padded seqs make seq order.

    Rolling re-fold: a directory with loose segments gets one new archive
    holding those segments AND the members of its existing ``chg_*.tar``
    files, deduplicated. Order on disk: temp tar, ``os.replace``, remove
    the old tars, remove the segments; a crash anywhere leaves the
    segments in place, so a rerun folds again and converges to one tar.
    A directory with no loose segments is left alone.

    The fold runs EAGERLY on a driver thread pool of
    ``defaultParallelism`` threads, one repo directory per call, with no
    Spark job. Members carry zeroed metadata, so archive bytes are a pure
    function of the member contents. The per-archive manifest is a local
    relation built from an Arrow table: collecting it runs no job."""
    from concurrent.futures import ThreadPoolExecutor
    from contextlib import ExitStack
    from pathlib import Path

    import pyarrow as pa

    cols = ["repo_dir", "tar_name", "n_members", "byte_len"]
    prefix = f"{NETCHANGE_KIND}_"

    def fold(d: str) -> dict | None:
        rdir = os.path.join(out_dir, d)
        listing = os.listdir(rdir)
        loose = sorted(
            n for n in listing
            if n.startswith(prefix) and ".log" in n and not n.endswith(".tar")
        )
        if not loose:
            return None
        old_tars = sorted(
            n for n in listing if n.startswith(prefix) and n.endswith(".tar")
        )
        with ExitStack() as stack:
            members = {}  # member name -> () -> bytes; loose files win
            for t in old_tars:
                tf = stack.enter_context(tarfile.open(os.path.join(rdir, t)))
                for m in tf.getmembers():
                    if m.isfile():
                        members.setdefault(
                            m.name, lambda tf=tf, m=m: tf.extractfile(m).read()
                        )
            for n in loose:
                members[n] = Path(rdir, n).read_bytes
            seqs = [s for n in members for s in _segment_seqs(n)]
            tar_name = f"{prefix}{min(seqs):010d}_{max(seqs):010d}.tar"
            tmp = os.path.join(rdir, f".{tar_name}.tmp-{os.getpid()}")
            with tarfile.open(tmp, "w") as out:
                for n in sorted(members):
                    data = members[n]()
                    info = tarfile.TarInfo(name=n)
                    info.size = len(data)
                    info.mtime = 0  # deterministic archive bytes
                    out.addfile(info, io.BytesIO(data))
        os.replace(tmp, os.path.join(rdir, tar_name))
        for n in old_tars:
            if n != tar_name:
                os.remove(os.path.join(rdir, n))
        for n in loose:
            os.remove(os.path.join(rdir, n))
        return {
            "repo_dir": d,
            "tar_name": tar_name,
            "n_members": len(members),
            "byte_len": os.path.getsize(os.path.join(rdir, tar_name)),
        }

    dirs = sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d))
    )
    workers = spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=workers) as pool:
        rows = [r for r in pool.map(fold, dirs) if r is not None]
    # an Arrow table, not the pandas frame itself: createDataFrame sends an
    # EMPTY pandas frame down the non-Arrow path, which runs a job
    return spark.createDataFrame(
        pa.Table.from_pandas(pd.DataFrame(rows, columns=cols),
                             preserve_index=False),
        schema="repo_dir string, tar_name string, n_members long, "
               "byte_len long",
    )
