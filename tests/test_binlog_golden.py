"""Golden bytes for both binlog file layouts: sha256 of fixed inputs,
plain and zlib-compressed. The export format is a contract (files on disk,
the DuckDB oracle's chunk rule, the MySQL applier), so any change to the
encoders must leave these digests unchanged."""

from __future__ import annotations

import hashlib
import zlib

import pytest

from mysql_binlog_spark.sinks.binlog_file import (
    DELETE_ROWS_EVENT_V2,
    UPDATE_ROWS_EVENT_V2,
    WRITE_ROWS_EVENT_V2,
    build_binlog_file,
    build_netchange_file,
    iter_binlog_events,
)

# 14 rows of ~700 B cross the 8 KiB chunk edge; row 3 has a null lang
SNAP_ROWS = [
    ("org/r1", f"src/f{i:02d}.py", f"c{i:040d}", None if i == 3 else "python",
     f"# file {i} é\n" + "x" * (650 + 13 * i))
    for i in range(14)
]

# all three passes, each over 8 KiB, interleaved in (seq, path) order
NC_ROWS = [
    (f"p{i:03d}", op,
     None if op == "I" else f"old-{i}-" + "o" * (600 + 7 * i),
     None if op == "D" else f"new-{i}-ü" + "n" * (500 + 5 * i),
     None if op == "D" else f"k{i:040d}")
    for i, op in enumerate("IDU" * 14)
]

GOLDEN = {
    "snapshot":
        "1891d4d3f2da2c5a790c6b853728af7032b84b65e30c874c25fa85bcc9a38164",
    "snapshot.z":
        "f997d9e64dfcbb9eca92cb0b3912bafa1f57096b19c584ad5183b541db332f90",
    "netchange":
        "fc968d53c49de16add2f87b902d7a92dadfd8ef9b9f1fece1e3daed4d1d78101",
    "netchange.z":
        "088b144a374219441848cfcbb7aa280583e07f656f2d41d29b5f04fdfa46c659",
}


def _blobs() -> dict[str, bytes]:
    snap = build_binlog_file(SNAP_ROWS, "org/r1", xid=7)
    nc = build_netchange_file(NC_ROWS, "org/r1", start_xid=4,
                              next_name="chg_0000000042")
    return {
        "snapshot": snap,
        "snapshot.z": zlib.compress(snap),
        "netchange": nc,
        "netchange.z": zlib.compress(nc),
    }


def test_inputs_cross_the_chunk_edge():
    """Every transaction of both files spans more than one rows event."""
    blobs = _blobs()
    types = {
        k: [e[0] for e in iter_binlog_events(blobs[k])]
        for k in ("snapshot", "netchange")
    }
    assert types["snapshot"].count(WRITE_ROWS_EVENT_V2) >= 2
    for etype in (WRITE_ROWS_EVENT_V2, DELETE_ROWS_EVENT_V2,
                  UPDATE_ROWS_EVENT_V2):
        assert types["netchange"].count(etype) >= 2, etype


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_golden_bytes(name):
    assert hashlib.sha256(_blobs()[name]).hexdigest() == GOLDEN[name]
