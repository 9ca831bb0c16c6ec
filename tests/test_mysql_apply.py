"""Recover-to-live-MySQL adapter: the BINLOG-statement executor driven
against a mock DB-API connection — asserts the exact statement and
transaction sequence the reference's recover produces
(recover/res/resume.go:592-747, common/db/mysql.go:333-359)."""

from __future__ import annotations

import base64

import pytest

from mysql_binlog_spark.sinks.binlog_file import (
    BINLOG_MAGIC,
    FORMAT_DESCRIPTION_EVENT,
    ROTATE_EVENT,
    TABLE_MAP_EVENT,
    WRITE_ROWS_EVENT_V2,
    XID_EVENT,
    _event,
    build_binlog_file,
    build_netchange_file,
    iter_binlog_events,
)
from mysql_binlog_spark.sinks.mysql_apply import (
    BinlogSqlApplier,
    apply_binlog_dir,
)

SNAP_ROWS = [
    ("r1", "a.py", "c1", "python", "print(1)"),
    ("r1", "b.go", "c2", None, "package main"),
]
NC_ROWS = [
    ("a.py", "I", None, "new a", "c1"),
    ("b.go", "D", "old b", None, None),
    ("c.rs", "U", "old c", "new c", "c2"),
]


class MockCursor:
    def __init__(self, log):
        self.log = log

    def execute(self, sql):
        self.log.append(("exec", sql))

    def close(self):
        pass


class MockConn:
    def __init__(self):
        self.log = []

    def cursor(self):
        return MockCursor(self.log)

    def commit(self):
        self.log.append(("commit", None))

    def close(self):
        pass


def _tags(log):
    return [
        "commit" if kind == "commit"
        else sql.split()[0] if not sql.startswith("BINLOG")
        else "BINLOG"
        for kind, sql in log
    ]


def test_snapshot_file_statement_and_txn_sequence():
    conn = MockConn()
    applier = BinlogSqlApplier(lambda: conn)
    report = applier.apply_bytes(build_binlog_file(SNAP_ROWS, "r1", xid=9))
    # FDE in its own committed BINLOG statement, then BEGIN / buffered
    # TABLE_MAP+rows BINLOG statement / XID-commit
    assert _tags(conn.log) == [
        "BEGIN", "BINLOG", "commit",          # format description
        "BEGIN", "BINLOG", "commit",          # the rows transaction
    ]
    assert report.transactions == 2
    assert report.rows_statements == 1
    assert report.xids == [9]
    # the rows statement carries BOTH the TABLE_MAP and the rows event
    rows_stmt = [s for k, s in conn.log if k == "exec" and s.startswith("BINLOG")][1]
    assert rows_stmt.count("\n") >= 2 and rows_stmt.endswith("';")
    # base64 is the 76-char-line MySQL variant
    b64_lines = [
        ln for ln in rows_stmt.splitlines()
        if ln and not ln.startswith(("BINLOG", "'"))
    ]
    assert all(len(ln) <= 76 for ln in b64_lines)
    for ln in b64_lines[:1]:
        base64.b64decode(ln)  # decodes cleanly


def test_netchange_file_three_pass_transactions():
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(
        build_netchange_file(NC_ROWS, "r1", start_xid=1)
    )
    # FDE txn + one txn per op-type pass (I, D, U)
    assert report.transactions == 4
    assert report.rows_statements == 3
    assert report.xids == [1, 2, 3]
    assert _tags(conn.log) == [
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
        "BEGIN", "BINLOG", "commit",
    ]


def test_chunked_transaction_is_one_buffered_statement():
    """8KB chunking produces several rows EVENTS but one buffered BINLOG
    statement per transaction (buffer flushes on STMT_END only)."""
    big = [("r1", f"p{i:03d}", f"c{i}", "py", "x" * 600) for i in range(40)]
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(
        build_binlog_file(big, "r1")
    )
    assert report.rows_statements == 1
    rows_stmt = [s for k, s in conn.log if k == "exec" and s.startswith("BINLOG")][1]
    # TABLE_MAP + >=3 chunk events, blank-line separated base64 blocks
    assert report.transactions == 2


def test_max_allowed_packet_growth_hook():
    conn = MockConn()
    applier = BinlogSqlApplier(lambda: conn, max_allowed_packet=200)
    report = applier.apply_bytes(build_binlog_file(SNAP_ROWS, "r1"))
    grows = [s for k, s in conn.log if k == "exec"
             and s.startswith("SET GLOBAL max_allowed_packet")]
    assert len(grows) == 1 and report.packet_growths == 1
    # doubled beyond the statement size, and issued BEFORE the statement
    new_size = int(grows[0].split("=")[1])
    assert new_size > 200 and applier.max_allowed_packet == new_size
    idx_grow = next(i for i, (k, s) in enumerate(conn.log)
                    if k == "exec" and s.startswith("SET GLOBAL"))
    idx_rows = [i for i, (k, s) in enumerate(conn.log)
                if k == "exec" and s.startswith("BINLOG")][1]
    assert idx_grow < idx_rows


class PacketServer:
    """A server with MySQL's packet rule: each session copies the global
    ``max_allowed_packet`` when it connects and refuses a longer
    statement; a rows BINLOG statement needs an FDE applied earlier in
    the same session; closing a session rolls back its open
    transaction. ``committed`` holds what became durable."""

    def __init__(self, packet: int):
        self.packet = packet
        self.committed: list[str] = []
        self.sessions = 0

    def connect(self):
        self.sessions += 1
        return PacketSession(self)


class PacketSession:
    def __init__(self, server: PacketServer):
        self.server = server
        self.packet = server.packet
        self.has_fde = False
        self.pending: list[str] = []
        self.open = True

    def cursor(self):
        return self

    def execute(self, sql):
        assert self.open, "statement on a closed session"
        if len(sql) > self.packet:
            raise RuntimeError("ER_NET_PACKET_TOO_LARGE")
        if sql.startswith("SET GLOBAL max_allowed_packet"):
            self.server.packet = int(sql.split("=")[1])
        elif sql == "BEGIN":
            self.pending = []
        elif sql.startswith("BINLOG"):
            raw = base64.b64decode("".join(sql.split("'")[1].split()))
            if raw[4] == FORMAT_DESCRIPTION_EVENT:
                self.has_fde = True
            elif not self.has_fde:
                raise RuntimeError("BINLOG rows statement before an FDE")
            self.pending.append(sql)

    def commit(self):
        self.server.committed.extend(self.pending)
        self.pending = []

    def close(self):
        self.pending = []
        self.open = False


def _events(blob: bytes) -> list[tuple[int, bytes]]:
    return [(etype, body) for etype, _raw, body, _pos in iter_binlog_events(blob)]


def test_packet_growth_reconnects_and_replays_the_transaction():
    """One transaction holds a small rows statement, then one too large
    for the session. After SET GLOBAL the applier must reconnect (the
    old session keeps its packet size), re-apply the FDE there, and
    replay the small statement in the re-opened transaction: every rows
    statement commits exactly once."""
    small = _events(build_binlog_file(SNAP_ROWS, "r1", xid=7))
    big = _events(build_binlog_file([("r1", "big.py", "c3", None, "y" * 3000)], "r1"))
    rows = [e for e in big if e[0] in (TABLE_MAP_EVENT, WRITE_ROWS_EVENT_V2)]
    events = [e for e in small if e[0] not in (XID_EVENT, ROTATE_EVENT)]
    events += rows + [e for e in small if e[0] == XID_EVENT]
    blob = bytearray(BINLOG_MAGIC)
    for etype, body in events:
        blob.extend(_event(etype, body, len(blob)))

    server = PacketServer(packet=1500)
    applier = BinlogSqlApplier(server.connect, max_allowed_packet=1500)
    report = applier.apply_bytes(bytes(blob))
    applier.close()

    assert report.packet_growths == 1 and server.sessions == 2
    assert server.packet == applier.max_allowed_packet > 1500
    fde, fde_again, small_rows, big_rows = server.committed
    assert fde == fde_again and len(small_rows) < 1500 < len(big_rows)
    assert report.rows_statements == 2 and report.xids == [7]


def test_rollback_savepoint_elided_and_ddl_gets_use_schema():
    """DDL QUERY events run use <schema> + statement in their own txn;
    ROLLBACK/SAVEPOINT are skipped (resume.go:636-638)."""
    from mysql_binlog_spark.sinks.binlog_file import (
        BINLOG_MAGIC,
        QUERY_EVENT,
        _event,
        _fde_body,
        _query_body,
        FORMAT_DESCRIPTION_EVENT,
    )

    out = bytearray(BINLOG_MAGIC)
    pos = len(out)
    for etype, body in [
        (FORMAT_DESCRIPTION_EVENT, _fde_body()),
        (QUERY_EVENT, _query_body(b"maindb", b"TRUNCATE TABLE r2")),
        (QUERY_EVENT, _query_body(b"", b"SAVEPOINT sp1")),
        (QUERY_EVENT, _query_body(b"", b"ROLLBACK")),
    ]:
        ev = _event(etype, body, pos)
        out.extend(ev)
        pos += len(ev)
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(bytes(out))
    stmts = [s for k, s in conn.log if k == "exec"]
    assert stmts[3] == "use maindb" and stmts[4] == "TRUNCATE TABLE r2"
    assert report.ddl_statements == 1
    assert not any("SAVEPOINT" in s or "ROLLBACK" in s for s in stmts)


def test_corrupt_input_fails_loudly():
    blob = bytearray(build_binlog_file(SNAP_ROWS, "r1"))
    blob[len(blob) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        BinlogSqlApplier(MockConn).apply_bytes(bytes(blob))


def test_apply_dir_walks_rotated_compressed_exports(spark, tmp_path):
    """End-to-end over a real net-change export tree: rotated + zlib'd
    segments apply in seq order through one connection."""
    from mysql_binlog_spark.sinks.binlog_file import (
        write_netchange_binlog_files,
    )

    rows = [
        ("r1", f"p{i:03d}", "I", i, None, f"body-{i}" * 30, f"c{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, diff_op string, seq long, "
        "old_content string, new_content string, new_commit string",
    )
    out = str(tmp_path / "nc")
    manifest = write_netchange_binlog_files(
        df, out, max_file_bytes=2048, compress=True
    ).collect()
    assert len(manifest) > 1
    conn = MockConn()
    report = apply_binlog_dir(lambda: conn, out)
    assert report.files == len(manifest)
    # one FDE txn + one insert-pass txn per file
    assert report.transactions == 2 * len(manifest)
    assert report.rows_statements == len(manifest)
    # consolidated tars apply identically (member-order walk)
    from mysql_binlog_spark.sinks.binlog_file import (
        consolidate_netchange_exports,
    )

    consolidate_netchange_exports(spark, out).collect()
    conn2 = MockConn()
    report2 = apply_binlog_dir(lambda: conn2, out)
    assert report2.transactions == report.transactions
    assert report2.rows_statements == report.rows_statements
    assert [s for k, s in conn2.log] == [s for k, s in conn.log]


def test_query_event_with_status_vars():
    """Real servers put status variables between the QUERY post-header
    and the schema (status_vars_len at body[11:13]); BEGIN must still
    open a transaction and DDL must still get its schema and text."""
    import struct

    from mysql_binlog_spark.sinks.binlog_file import (
        BINLOG_MAGIC,
        FORMAT_DESCRIPTION_EVENT,
        QUERY_EVENT,
        _event,
        _fde_body,
    )

    # Q_FLAGS2, Q_SQL_MODE, Q_CATALOG_NZ "std", Q_CHARSET (as mysqld 5.7)
    status = (
        b"\x00" + struct.pack("<I", 0)
        + b"\x01" + struct.pack("<Q", 0x45A00020)
        + b"\x06\x03std"
        + b"\x04" + struct.pack("<HHH", 33, 33, 8)
    )

    def query(schema: bytes, text: bytes) -> bytes:
        return (
            struct.pack("<IIBHH", 7, 0, len(schema), 0, len(status))
            + status + schema + b"\x00" + text
        )

    out = bytearray(BINLOG_MAGIC)
    for etype, body in [
        (FORMAT_DESCRIPTION_EVENT, _fde_body()),
        (QUERY_EVENT, query(b"maindb", b"TRUNCATE TABLE r2")),
        (QUERY_EVENT, query(b"maindb", b"BEGIN")),
        (QUERY_EVENT, query(b"maindb", b"COMMIT")),
    ]:
        out.extend(_event(etype, body, len(out)))
    conn = MockConn()
    report = BinlogSqlApplier(lambda: conn).apply_bytes(bytes(out))
    stmts = [s for k, s in conn.log if k == "exec"]
    assert stmts[2:5] == ["BEGIN", "use maindb", "TRUNCATE TABLE r2"]
    assert stmts[5:] == ["BEGIN"]  # the BEGIN/COMMIT pair, not DDL
    assert report.ddl_statements == 1
    assert report.transactions == 3


def test_apply_dir_skips_crashed_writer_temp_files(spark, tmp_path):
    """A writer that dies mid-file leaves ``.<name>.tmp-<pid>`` beside the
    export; only finished ``.log``/``.log.z`` files are applied, and the
    reader, which lists with the same walk, ignores the temp file too."""
    import zlib

    from mysql_binlog_spark.sinks.binlog_file import read_netchange_binlog_files

    d = tmp_path / "nc" / "r1"
    d.mkdir(parents=True)
    blob = build_netchange_file(NC_ROWS, "r1", start_xid=1)
    (d / "chg_1_3.log").write_bytes(blob)
    (d / "chg_4_6.log.z").write_bytes(zlib.compress(blob))
    (d / ".chg_7_9.log.tmp-4242").write_bytes(blob[: len(blob) // 2])
    conn = MockConn()
    report = apply_binlog_dir(lambda: conn, str(tmp_path / "nc"))
    assert report.files == 2
    assert report.xids == [1, 2, 3, 1, 2, 3]
    back = read_netchange_binlog_files(spark, str(tmp_path / "nc")).collect()
    assert sorted((r["path"], r["diff_op"], r["xid"]) for r in back) == sorted(
        [(p, op, 1 + "IDU".index(op)) for p, op, *_ in NC_ROWS] * 2
    )
