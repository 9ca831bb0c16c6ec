"""Binlog FILE-format export: byte-level framing (magic, FDE, BEGIN,
TABLE_MAP, <=8KB rows chunks, XID, ROTATE, CRC32 footers) + distributed
write/parse roundtrip — the reference's restitute output format
(common/log/bin.go:28-207, backup/binlog/repl.go:706-992)."""

from __future__ import annotations

import struct
import zlib

import pytest

from mysql_binlog_spark.sinks.binlog_file import (
    BINLOG_MAGIC,
    BUFFER_SIZE,
    FORMAT_DESCRIPTION_EVENT,
    HEADER_LEN,
    QUERY_EVENT,
    ROTATE_EVENT,
    STMT_END_F,
    TABLE_MAP_EVENT,
    WRITE_ROWS_EVENT_V2,
    XID_EVENT,
    build_binlog_file,
    parse_binlog_bytes,
    read_binlog_files,
    write_binlog_files,
)

ROWS = [
    ("r1", "a.py", "c1", "python", "print(1)"),
    ("r1", "b.go", "c2", None, "package main"),
    ("r1", "c.rs", "c3", "rust", "fn main() {}"),
]


def _events(blob: bytes) -> list[tuple[int, bytes, int]]:
    """[(type, body, flags)] with header/CRC verification."""
    assert blob.startswith(BINLOG_MAGIC)
    pos, out = len(BINLOG_MAGIC), []
    while pos < len(blob):
        ts, etype, sid, size, log_pos, flags = struct.unpack(
            "<IBIIIH", blob[pos:pos + HEADER_LEN]
        )
        assert log_pos == pos + size  # end-position bookkeeping
        body = blob[pos + HEADER_LEN:pos + size - 4]
        (crc,) = struct.unpack("<I", blob[pos + size - 4:pos + size])
        assert zlib.crc32(blob[pos:pos + size - 4]) & 0xFFFFFFFF == crc
        out.append((etype, body, flags))
        pos += size
    return out


def test_file_framing_structure():
    blob = build_binlog_file(ROWS, "r1", xid=7)
    evs = _events(blob)
    types = [e[0] for e in evs]
    assert types == [
        FORMAT_DESCRIPTION_EVENT, QUERY_EVENT, TABLE_MAP_EVENT,
        WRITE_ROWS_EVENT_V2, XID_EVENT, ROTATE_EVENT,
    ]
    # FDE: binlog v4, CRC32 checksum alg byte
    fde = evs[0][1]
    assert struct.unpack("<H", fde[:2])[0] == 4
    assert fde[-1] == 1
    # BEGIN query names the schema (repo)
    q = evs[1][1]
    assert q.endswith(b"BEGIN") and b"r1\x00" in q
    # single small transaction: ONE rows chunk carrying STMT_END_F
    assert evs[3][2] == 0  # event-header flags unused
    rows_flags = struct.unpack("<H", evs[3][1][6:8])[0]
    assert rows_flags & STMT_END_F
    # XID carries the transaction id
    assert struct.unpack("<Q", evs[4][1][:8])[0] == 7
    # rotate names the next file
    assert evs[5][1][8:] == b"r1.next"


def test_rows_chunking_at_8kb():
    """A transaction bigger than 8KB splits into multiple WRITE_ROWS
    events; only the last carries STMT_END_F; parse reports the chunk
    index the SQL oracle's cumsum rule predicts."""
    big = [
        ("r1", f"p{i:04d}", f"c{i}", "py", "x" * 600) for i in range(40)
    ]  # ~640B/row -> ~25KB -> 4 chunks
    blob = build_binlog_file(big, "r1", xid=1)
    evs = _events(blob)
    rows_evs = [e for e in evs if e[0] == WRITE_ROWS_EVENT_V2]
    assert len(rows_evs) >= 3
    for e in rows_evs[:-1]:
        assert not struct.unpack("<H", e[1][6:8])[0] & STMT_END_F
    assert struct.unpack("<H", rows_evs[-1][1][6:8])[0] & STMT_END_F
    parsed = parse_binlog_bytes(blob)
    assert len(parsed) == 40
    # chunk_idx == floor(cum_before / 8192) with the documented row size
    cum = 0
    for r, rec in zip(big, sorted(parsed, key=lambda x: x["path"])):
        size = 1 + 4 + 4 + len(f"{r[0]}\x00{r[1]}".encode()) + len(
            r[2].encode()) + 1 + 1 + len(r[3].encode()) + 1 + len(r[4].encode())
        assert rec["chunk_idx"] == cum // BUFFER_SIZE, rec
        cum += size


def test_parse_rejects_corruption():
    blob = build_binlog_file(ROWS, "r1")
    with pytest.raises(ValueError, match="magic"):
        parse_binlog_bytes(b"garbage" + blob)
    # flip one payload byte -> CRC failure
    bad = bytearray(blob)
    bad[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        parse_binlog_bytes(bytes(bad))
    with pytest.raises(ValueError):
        parse_binlog_bytes(blob[:-10])  # truncated


def test_roundtrip_preserves_rows_and_null_lang():
    parsed = parse_binlog_bytes(build_binlog_file(ROWS, "r1", xid=3))
    got = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in parsed
    )
    assert got == sorted(ROWS)
    assert all(r["xid"] == 3 for r in parsed)


def test_distributed_write_and_parse_roundtrip(spark, tmp_path):
    """Executor-side file write (applyInPandas per repo) -> driver
    listing -> mapInPandas parse == the snapshot it was built from."""
    rows = [
        (f"r{i % 3}", f"p{i:03d}", f"c{i}", None if i % 5 == 0 else "py",
         f"content-{i}" * 20)
        for i in range(300)
    ]
    snap = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "binlogs")
    manifest = write_binlog_files(snap, out).collect()
    assert {m["repo"] for m in manifest} == {"r0", "r1", "r2"}
    assert all(m["n_rows"] == 100 for m in manifest)
    back = read_binlog_files(spark, out)
    got = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in back.collect()
    )
    assert got == sorted(rows)
    # chunk counts in the manifest match the parsed chunk indices
    by_repo = {m["repo"]: m for m in manifest}
    for r in back.collect():
        assert r["chunk_idx"] < by_repo[r["repo"]]["n_chunks"]


def test_rotated_snapshot_export_roundtrip(spark, tmp_path):
    """max_file_bytes bounds every writer group and splits hot repos into
    multiple complete binlog files; the distributed parse still recovers
    the exact snapshot."""
    rows = [
        ("hot", f"p{i:04d}", f"c{i}", "py", "x" * 400) for i in range(150)
    ] + [("cold", "q1", "c", None, "tiny")]
    snap = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "binlogs")
    manifest = write_binlog_files(snap, out, max_file_bytes=8192).collect()
    hot = [m for m in manifest if m["repo"] == "hot"]
    assert len(hot) > 3  # rotation split the hot repo
    assert all(m["byte_len"] < 3 * 8192 for m in hot)
    assert sum(m["n_rows"] for m in hot) == 150
    assert [m["n_rows"] for m in manifest if m["repo"] == "cold"] == [1]
    back = read_binlog_files(spark, out)
    got = sorted(
        (r["repo"], r["path"], r["commit"], r["lang"], r["content"])
        for r in back.collect()
    )
    assert got == sorted(rows)
