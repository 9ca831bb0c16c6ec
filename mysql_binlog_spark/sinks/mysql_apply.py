"""Recover-to-live-MySQL adapter: drive rendered ``BINLOG '...'``
statements through a DB-API connection in XID-delimited transactions.

The reference's recover executes its parsed binlog stream against a real
server (recover/res/resume.go:592-747): the FORMAT_DESCRIPTION event is
base64'd and applied as its own committed ``BINLOG`` statement (it
installs the format for the session); a QUERY ``BEGIN`` opens the
transaction and XID commits it; TABLE_MAP starts a statement buffer that
accumulates the base64 of every rows-event chunk until the STMT_END
flag, growing ``max_allowed_packet`` by doubling when the buffered
statement would exceed it (resume.go:688-693, common/db/mysql.go:333-359
MetaConf Begin/Execute/Commit); DDL QUERY events run ``use <schema>``
then the statement in their own transaction; ROLLBACK/SAVEPOINT are
elided.

This module is that executor over the engine's OWN export files
(``write_binlog_files`` snapshots and ``write_netchange_binlog_files``
net-change streams — both genuine binlog-v4, so the walk is the shared
validated ``iter_binlog_events``). No MySQL server exists in this
environment, so the seam is a DB-API connection factory: production
passes ``mysql.connector.connect`` / ``pymysql.connect``; tests pass a
mock and assert the exact statement/transaction sequence. Applying to
one server is inherently a serial, driver-side sink (the reference runs
it in one process too) — state-scale recovery goes through the lake
``recover`` path; this adapter is the interop endpoint for pushing a
compacted changelog back INTO a MySQL.
"""

from __future__ import annotations

import base64
import struct
from dataclasses import dataclass, field

from mysql_binlog_spark.sinks.binlog_file import (
    DELETE_ROWS_EVENT_V2,
    FORMAT_DESCRIPTION_EVENT,
    QUERY_EVENT,
    ROTATE_EVENT,
    STMT_END_F,
    TABLE_MAP_EVENT,
    UPDATE_ROWS_EVENT_V2,
    WRITE_ROWS_EVENT_V2,
    XID_EVENT,
    _binlog_blobs,
    _binlog_paths,
    iter_binlog_events,
)

_ROWS_EVENTS = {WRITE_ROWS_EVENT_V2, UPDATE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2}
#: statements the reference elides rather than executes (resume.go:636-638)
_ELIDED = ("ROLLBACK", "SAVEPOINT")


def _b64_lines(raw: bytes, line_len: int = 76) -> str:
    """MySQL-variant base64: a newline after every 76 chars (the same
    rendering functions.codec.mysql_base64 does JVM-side)."""
    s = base64.b64encode(raw).decode()
    return "\n".join(s[i:i + line_len] for i in range(0, len(s), line_len))


@dataclass
class ApplyReport:
    files: int = 0
    transactions: int = 0
    statements: int = 0
    rows_statements: int = 0
    ddl_statements: int = 0
    packet_growths: int = 0
    xids: list[int] = field(default_factory=list)


class BinlogSqlApplier:
    """Apply binlog files to a DB-API connection, reference-faithfully.

    ``connection_factory`` -> a DB-API 2.0 connection (``cursor()``,
    ``commit()``, ``close()``). Transactions are opened with an explicit
    ``BEGIN`` statement (the portable DB-API analog of MetaConf.Begin's
    Tx) and closed with ``connection.commit()``. ``max_allowed_packet``
    mirrors the reference's doubling growth (resume.go resetMaxPkgSize):
    when a buffered rows statement exceeds the current value, ``SET
    GLOBAL max_allowed_packet = 2*len`` is issued and the applier moves
    to a new session (``_grow_packet``). The report counts every
    statement and ``BEGIN`` sent, replays included.
    """

    def __init__(
        self,
        connection_factory,
        max_allowed_packet: int = 4 * 1024 * 1024,
        delimiter: str = ";",
    ):
        self._connect = connection_factory
        self._conn = connection_factory()
        self._cur = self._conn.cursor()
        self.max_allowed_packet = max_allowed_packet
        self.delimiter = delimiter
        self.report = ApplyReport()
        self._buffer: list[str] = []
        self._in_txn = False
        # what a new session must replay: the last FDE statement, and the
        # statements the open transaction executed
        self._fde: str | None = None
        self._txn: list[str] = []

    # -- transaction plumbing (MetaConf Begin/Execute/Commit analog) -----

    def _begin(self) -> None:
        if not self._in_txn:
            self._cur.execute("BEGIN")
            self._in_txn = True
            self._txn = []
            self.report.transactions += 1

    def _execute(self, sql: str) -> None:
        self._cur.execute(sql)
        self._txn.append(sql)
        self.report.statements += 1

    def _commit(self) -> None:
        self._conn.commit()
        self._in_txn = False

    def _apply_fde(self, stmt: str) -> None:
        """The FDE installs the session's binlog format: its own
        committed BINLOG statement (resume.go:604-622)."""
        self._fde = stmt
        self._begin()
        self._execute(stmt)
        self._commit()

    def _grow_packet(self, size: int) -> None:
        """Raise ``max_allowed_packet`` to ``2*size`` for a statement of
        ``size`` characters. MySQL fixes a session's packet size at
        connect, so the current session could still not send it: set the
        global, close the session (rolling back its open transaction),
        connect anew, re-apply the FDE, then re-open the transaction and
        replay what it had executed (resume.go:772-800 RefreshConnection)."""
        self.max_allowed_packet = size * 2
        self._cur.execute(f"SET GLOBAL max_allowed_packet = {self.max_allowed_packet}")
        self.report.packet_growths += 1
        replay = self._txn if self._in_txn else None
        self.close()
        self._conn = self._connect()
        self._cur = self._conn.cursor()
        self._in_txn = False
        if self._fde is not None:
            self._apply_fde(self._fde)
        if replay is not None:
            self._begin()
            for sql in replay:
                self._execute(sql)

    # -- event dispatch ---------------------------------------------------

    def apply_bytes(self, blob: bytes) -> ApplyReport:
        """Apply one binlog file's event stream (accepts ``.log.z``)."""
        for etype, raw, body, pos in iter_binlog_events(blob):
            if etype == FORMAT_DESCRIPTION_EVENT:
                self._apply_fde(f"BINLOG '\n{_b64_lines(raw)}\n'{self.delimiter}")
            elif etype == QUERY_EVENT:
                # post-header: thread_id(4) exec_time(4) schema_len(1)
                # error_code(2) status_vars_len(2); then the status vars,
                # the schema, a NUL and the query
                schema_len = body[8]
                (status_len,) = struct.unpack("<H", body[11:13])
                at = 13 + status_len
                schema = body[at:at + schema_len].decode()
                query = body[at + schema_len + 1:].decode()
                up = query.upper()
                if up == "BEGIN":
                    self._begin()
                elif up == "COMMIT":
                    self._commit()
                elif up.startswith(_ELIDED):
                    continue
                else:  # DDL: own transaction, schema-qualified
                    self._begin()
                    if schema:
                        self._execute(f"use {schema}")
                    self._execute(query)
                    self._commit()
                    self.report.ddl_statements += 1
            elif etype == TABLE_MAP_EVENT:
                self._buffer = [f"BINLOG '\n{_b64_lines(raw)}"]
            elif etype in _ROWS_EVENTS:
                if not self._buffer:
                    raise ValueError(
                        f"rows event at byte {pos} with no TABLE_MAP buffer"
                    )
                self._buffer.append(_b64_lines(raw))
                rflags = struct.unpack("<H", body[6:8])[0]
                if rflags & STMT_END_F:
                    stmt = "\n".join(self._buffer) + f"\n'{self.delimiter}"
                    if len(stmt) > self.max_allowed_packet:
                        self._grow_packet(len(stmt))
                    self._execute(stmt)
                    self.report.rows_statements += 1
                    self._buffer = []
            elif etype == XID_EVENT:
                (xid,) = struct.unpack("<Q", body[:8])
                self.report.xids.append(xid)
                self._commit()
            elif etype == ROTATE_EVENT:
                pass  # file chaining is the caller's walk order
        if self._buffer:
            raise ValueError("file ended with an unterminated rows buffer")
        if self._in_txn:
            raise ValueError("file ended inside an uncommitted transaction")
        self.report.files += 1
        return self.report

    def apply_file(self, path: str) -> ApplyReport:
        with open(path, "rb") as f:
            return self.apply_bytes(f.read())

    def close(self) -> None:
        self._cur.close()
        self._conn.close()


def apply_binlog_dir(
    connection_factory,
    path: str,
    max_allowed_packet: int = 4 * 1024 * 1024,
) -> ApplyReport:
    """Apply every binlog file under ``path`` in ``_binlog_paths``
    order (recursive; ``.log``, ``.log.z`` and consolidated ``.tar``
    archives, whose members apply in name order) — rotation segments sort
    by their start seq by construction, matching the reference's end-ts
    file ordering (SURVEY §2.5 O3)."""
    applier = BinlogSqlApplier(connection_factory, max_allowed_packet)
    try:
        for f in _binlog_paths(path):
            for blob in _binlog_blobs(f):
                applier.apply_bytes(blob)
    finally:
        applier.close()
    return applier.report
