"""Typed wire-codec roundtrip (SURVEY §1.4 / §2.8 C9 — the reference's
full column-type decode, row_event.go:395-540, 571-814)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pandas as pd
import pytest

from mysql_binlog_spark.sources.typed_codec import (
    TYPED_EVENT_DDL,
    decode_typed_events_arrow,
    encode_typed_events_arrow,
)
from tests.typed_codec_reference import decode_typed_events, encode_typed_events

#: (encode, decode) pairs: the Arrow codec production runs, and the
#: mapInPandas reference it is checked against
CODECS = {
    "arrow": (encode_typed_events_arrow, decode_typed_events_arrow),
    "pandas": (encode_typed_events, decode_typed_events),
}


def _fixture_df(spark):
    # flags_set is the decode-derived SET rendering of flags_bits under
    # DEFAULT_SET_DICT — the fixture carries the expected value so the
    # round-trip frame-compare checks it too
    rows = [
        (
            1, "I", "r1", "a/b.py", "c" * 32,
            9_007_199_254_740_991, -256, Decimal("12345678.9999"), 0.1 + 0.2,
            datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
            datetime.date(2029, 12, 31), (1 << 62) + 5,
            "23:59:59.999999", "python", "read,exec",
            '{"k":1,"a":[1,2]}', b"\x00\x01\xff\xfe", "hello é世界",
        ),
        # all-nullable-null row (null bitmap coverage)
        (2, "D", "r1", "x", None, None, None, None, None,
         None, None, None, None, None, None, None, None, None),
        # negative / boundary numerics; empty SET renders as ''
        (3, "U", "r2", "y", "d" * 32, -9_007_199_254_740_991, 2147483647,
         Decimal("-0.0001"), -1.5e308, datetime.datetime(1970, 1, 1, 0, 0, 1),
         datetime.date(1969, 7, 20), 0, "00:00:00.000001", "ts", "",
         "{}", b"", ""),
    ]
    return spark.createDataFrame(rows, TYPED_EVENT_DDL)


def test_typed_roundtrip_lossless(spark):
    src = _fixture_df(spark)
    packed = encode_typed_events(src)
    back = decode_typed_events(packed)
    a = src.toPandas().sort_values("seq").reset_index(drop=True)
    b = back.toPandas().sort_values("seq").reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_typed_decode_stays_arrow_batched(spark):
    """The decode is mapInPandas (ArrowEvalPython/MapInPandas node), not a
    row-at-a-time Python UDF."""
    packed = encode_typed_events(_fixture_df(spark))
    plan = (
        decode_typed_events(packed)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_typed_codec_version_and_length_guards(spark):
    """Stale-version and truncated records fail loudly in both decoders
    (reference FORMAT_DESCRIPTION / event-size checks), never decode as
    garbage."""
    for name, (encode, decode) in CODECS.items():
        rec = bytes(encode(_fixture_df(spark)).toPandas()["record"][0])
        stale = bytes([rec[0] ^ 0x7F]) + rec[1:]
        for bad, msg in (
            (stale, "wire-format version"),
            (rec[:-1], "header-implied"),
            (rec[:10], "shorter than its fixed header"),
        ):
            with pytest.raises(Exception, match=msg):
                decode(
                    spark.createDataFrame(pd.DataFrame({"record": [bad]}))
                ).collect()
                pytest.fail(f"{name} decoder accepted a bad record")


def test_typed_codec_enum_dictionary_strict(spark):
    """An ENUM value outside the stream dictionary is an encode error in
    both encoders (strict, like MySQL's column definition), and a custom
    dictionary threads through both directions."""
    df = _fixture_df(spark)
    custom = ("rust", "go", "python", "java", "c", "js", "ts", "zig")
    for name, (encode, decode) in CODECS.items():
        with pytest.raises(Exception, match="not in the stream dictionary"):
            encode(df, enum_dict=("only-one",)).collect()
            pytest.fail(f"{name} encoder accepted an unknown ENUM value")
        back = decode(encode(df, enum_dict=custom), enum_dict=custom)
        got = {r["seq"]: r["category"] for r in back.collect()}
        assert got == {1: "python", 2: None, 3: "ts"}, name


def test_arrow_native_codec_matches_pandas_reference(spark):
    """The mapInArrow codec (buffer-built columns, zero per-row Python
    objects) must be byte-identical on encode and value-identical on
    decode to the readable mapInPandas reference implementation."""
    src = _fixture_df(spark)
    a = sorted(bytes(r["record"]) for r in encode_typed_events(src).collect())
    b = sorted(
        bytes(r["record"]) for r in encode_typed_events_arrow(src).collect()
    )
    assert a == b  # byte-identical wire output

    dec_ref = (
        decode_typed_events(encode_typed_events(src))
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    dec_arrow = (
        decode_typed_events_arrow(encode_typed_events_arrow(src))
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(dec_ref, dec_arrow, check_dtype=False)


def test_arrow_codec_plan_is_arrow_eval(spark):
    """The arrow codec runs as MapInArrow (PythonMapInArrow node) — no
    pandas conversion, no row-at-a-time Python."""
    plan = (
        decode_typed_events_arrow(encode_typed_events_arrow(_fixture_df(spark)))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
