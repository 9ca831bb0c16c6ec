"""The binlog export contract queries against their DuckDB oracles. The
snapshot oracle recomputes every row's 8 KiB chunk index with
octet_length and a window cumsum; at sf0.01 every repo fits one chunk, so
the snapshot query also runs at sf0.1, where rows land in chunks 0-3 and
the framing rule itself is gated. The net-change oracle is the version
diff, old images included."""

from __future__ import annotations

import importlib.util
import os

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = "/root/testdata"  # see TESTDATA.md


def _check_contract():
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(_ROOT, "scripts", "check_contract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("query, sf", [
    ("cdc_binlog_file_export", "sf0.01"),
    ("cdc_binlog_netchange_export", "sf0.01"),
    ("cdc_binlog_file_export", "sf0.1"),
])
def test_binlog_query_matches_duckdb_oracle(spark, query, sf):
    import duckdb

    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is absent")
    cc = _check_contract()
    con = duckdb.connect()
    for t in cc.TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    got = cc.entrymod.queries()[query](spark, sf_dir).toPandas()
    want = con.execute(cc.entrymod.oracle_sql()[query]).fetchdf()
    assert len(got) > 0
    ok, why = cc.values_equal(cc.normalize(got), cc.normalize(want))
    assert ok, why
