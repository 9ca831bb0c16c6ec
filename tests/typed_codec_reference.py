"""The readable ``mapInPandas`` implementation of the typed wire codec —
the test oracle for the Arrow-native codec in
``mysql_binlog_spark.sources.typed_codec``, which production uses.

Tests check that both encoders emit byte-identical records, that both
decoders yield the same frames, and that both refuse stale versions,
truncated records and out-of-dictionary ENUM values.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mysql_binlog_spark.sources.typed_codec import (
    _FMT,
    _HEAD_DTYPE,
    _NULL_BITS,
    _OUT_COLS,
    _VAR_FIELDS,
    DEFAULT_ENUM_DICT,
    DEFAULT_SET_DICT,
    PACKED_SCHEMA,
    TYPED_EVENT_DDL,
    TYPED_WIRE_VERSION,
)


def _dur_strings(us: np.ndarray) -> list[str]:
    """micros-since-midnight -> 'HH:MM:SS.ffffff' (the reference's TIME2
    string render, row_event.go:735-814); components vectorized, only the
    final string format is per element (strings are objects anyway)."""
    h, rem = np.divmod(us, 3_600_000_000)
    m, rem = np.divmod(rem, 60_000_000)
    s, frac = np.divmod(rem, 1_000_000)
    return [
        f"{hh:02d}:{mm:02d}:{ss:02d}.{ff:06d}"
        for hh, mm, ss, ff in zip(h, m, s, frac)
    ]


def _unpack_batch(
    pdf: pd.DataFrame,
    enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT,
    set_dict: tuple[str, ...] = DEFAULT_SET_DICT,
) -> pd.DataFrame:
    """Vectorized batch decode: the fixed-width section of every record is
    gathered with ONE numpy fancy-index into a structured array (no
    per-row struct.unpack); numeric/timestamp/date columns convert as
    whole arrays. Only variable-length field slicing and Decimal
    construction remain per element — the unavoidable object-creation
    floor of a row-oriented wire format."""
    recs = [bytes(r) for r in pdf["record"]]
    n = len(recs)
    if n == 0:
        return pd.DataFrame({k: pd.Series(dtype="object") for k in _OUT_COLS})
    buf = np.frombuffer(b"".join(recs), dtype=np.uint8)
    rec_lens = np.fromiter((len(r) for r in recs), dtype=np.int64, count=n)
    offs = np.concatenate(([0], np.cumsum(rec_lens)))[:-1]
    if rec_lens.min() < _FMT.size:
        raise ValueError("packed record shorter than its fixed header")
    # one vectorized gather of all heads -> structured view
    head_bytes = buf[offs[:, None] + np.arange(_FMT.size)]
    head = np.ascontiguousarray(head_bytes).view(_HEAD_DTYPE).reshape(n)
    if (head["ver"] != TYPED_WIRE_VERSION).any():
        bad = int(head["ver"][head["ver"] != TYPED_WIRE_VERSION][0])
        raise ValueError(
            f"typed record has wire-format version {bad}, decoder speaks "
            f"{TYPED_WIRE_VERSION} — re-encode the stream instead of "
            "decoding garbage offsets"
        )
    implied = _FMT.size + sum(
        head[f"l{j}"].astype(np.int64) for j in range(6)
    )
    if (implied != rec_lens).any():
        raise ValueError(
            "typed record length does not match its header-implied length "
            "— corrupt or truncated record"
        )

    nulls = head["nulls"].astype(np.int64)

    def masked(name, arr):
        m = (nulls >> _NULL_BITS[name]) & 1
        out = pd.Series(arr)
        return out.mask(m == 1)

    cols: dict[str, object] = {
        "seq": head["seq"].astype(np.int64),
        "op": pd.Series(head["op"]).map(chr),
        "size_bytes": masked("size_bytes", head["size_bytes"].astype(np.int64)),
        "mode": masked("mode", head["mode"].astype(np.int32)),
        "ratio": masked("ratio", head["ratio"].astype(np.float64)),
        # whole-array datetime conversions (datetime64 units, no loops)
        "mtime": masked("mtime", head["mtime"].astype("datetime64[us]")),
        "mdate": masked(
            "mdate", pd.Series(head["mdate"].astype("datetime64[D]")).dt.date
        ),
        "flags_bits": masked("flags_bits", head["flags_bits"].astype(np.int64)),
    }
    # decimals must stay exact objects; construct only where non-null
    score_null = (nulls >> _NULL_BITS["score"]) & 1
    cols["score"] = pd.Series(
        [None if score_null[i] else Decimal(int(s)).scaleb(-4)
         for i, s in enumerate(head["score"])],
        dtype="object",
    )
    # TIME: micros-since-midnight -> string
    dur_null = (nulls >> _NULL_BITS["dur"]) & 1
    dur_strs = _dur_strings(head["dur"].astype(np.int64))
    cols["dur"] = pd.Series(
        [None if dur_null[i] else dur_strs[i] for i in range(n)], dtype="object"
    )
    # ENUM: dictionary id -> name (stream-carried dictionary)
    cat_null = (nulls >> _NULL_BITS["category"]) & 1
    cat_ids = head["cat"].astype(np.int64)
    # 1-based ids: 0 on a non-null record is corrupt (enum_dict[-1]
    # would silently decode the LAST entry; the Arrow path validates the
    # same bound so corrupt input fails identically in both decoders)
    if (((cat_ids > len(enum_dict)) | (cat_ids < 1)) & (cat_null == 0)).any():
        raise ValueError("ENUM id outside the stream dictionary")
    cols["category"] = pd.Series(
        [None if cat_null[i] else enum_dict[cat_ids[i] - 1] for i in range(n)],
        dtype="object",
    )
    # SET: flags_bits -> comma-joined member names from the SET dictionary
    flags_null = (nulls >> _NULL_BITS["flags_bits"]) & 1
    fb = head["flags_bits"].astype(np.int64)
    cols["flags_set"] = pd.Series(
        [
            None
            if flags_null[i]
            else ",".join(nm for j, nm in enumerate(set_dict) if (fb[i] >> j) & 1)
            for i in range(n)
        ],
        dtype="object",
    )
    # var-field slicing: per-record offsets computed vectorized
    lens = np.stack([head[f"l{j}"].astype(np.int64) for j in range(6)], axis=1)
    starts = offs[:, None] + _FMT.size + np.concatenate(
        [np.zeros((n, 1), dtype=np.int64), np.cumsum(lens, axis=1)[:, :-1]], axis=1
    )
    raw_buf = buf.tobytes()
    for j, f in enumerate(_VAR_FIELDS):
        bit = _NULL_BITS.get(f)
        fnull = (nulls >> bit) & 1 if bit is not None else np.zeros(n, dtype=np.int64)
        s_j, l_j = starts[:, j], lens[:, j]
        if f == "raw":
            vals = [
                None if fnull[i] else raw_buf[s_j[i] : s_j[i] + l_j[i]]
                for i in range(n)
            ]
        else:
            vals = [
                None if fnull[i] else raw_buf[s_j[i] : s_j[i] + l_j[i]].decode("utf-8")
                for i in range(n)
            ]
        cols[f] = pd.Series(vals, dtype="object")
    return pd.DataFrame(cols)[_OUT_COLS]


def _pack_batch(
    pdf: pd.DataFrame, enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT
) -> list[bytes]:
    """Vectorized batch encode: null bitmap + fixed-width section built as
    whole numpy arrays; only var-field byte encoding and final record
    assembly run per row. Columns absent from the input frame (older
    producers) encode as all-NULL."""
    for c in ("dur", "category"):
        if c not in pdf.columns:
            pdf = pdf.assign(**{c: None})
    n = len(pdf)
    head = np.zeros(n, dtype=_HEAD_DTYPE)
    head["ver"] = TYPED_WIRE_VERSION
    nulls = np.zeros(n, dtype=np.int64)

    def fixed(name, to_array, field=None):
        s = pdf[name]
        isnull = s.isna().to_numpy()  # None / NaN / NaT
        nulls[:] |= isnull.astype(np.int64) << _NULL_BITS[name]
        head[field or name] = to_array(s, isnull)

    def num(dtype, fill=0):
        def conv(s, isnull):
            return pd.to_numeric(s, errors="coerce").fillna(fill).to_numpy(dtype)
        return conv

    fixed("size_bytes", num(np.int64))
    fixed("mode", num(np.int32))
    fixed("ratio", num(np.float64, 0.0))
    fixed("flags_bits", num(np.int64))

    def ts_conv(s, isnull):
        arr = pd.to_datetime(s, errors="coerce").to_numpy(dtype="datetime64[ns]")
        us = arr.astype("datetime64[us]").astype(np.int64)
        us[isnull] = 0
        return us

    fixed("mtime", ts_conv)

    def date_conv(s, isnull):
        arr = pd.to_datetime(s, errors="coerce").to_numpy(dtype="datetime64[ns]")
        days = arr.astype("datetime64[D]").astype(np.int64)
        days[isnull] = 0
        return days.astype(np.int32)

    fixed("mdate", date_conv)

    def dur_conv(s, isnull):
        # 'HH:MM:SS[.ffffff]' -> micros since midnight (vectorized parse)
        td = pd.to_timedelta(s.where(~pd.Series(isnull, index=s.index)), errors="coerce")
        us = (td.dt.total_seconds() * 1_000_000).round()
        return us.fillna(0).to_numpy(np.int64)

    fixed("dur", dur_conv)

    def cat_conv(s, isnull):
        lut = {name: i + 1 for i, name in enumerate(enum_dict)}
        ids = s.map(lut)
        bad = ids.isna().to_numpy() & ~isnull
        if bad.any():
            val = s[pd.Series(bad, index=s.index)].iloc[0]
            raise ValueError(f"ENUM value {val!r} not in the stream dictionary")
        return ids.fillna(0).to_numpy(np.uint16)

    fixed("category", cat_conv, field="cat")

    # exact decimals: scaled per non-null element (object column)
    sc = pdf["score"]
    sc_null = sc.isna().to_numpy()
    nulls[:] |= sc_null.astype(np.int64) << _NULL_BITS["score"]
    head["score"] = [
        0 if sc_null[i] else int(Decimal(v).scaleb(4))
        for i, v in enumerate(sc)
    ]

    head["seq"] = pd.to_numeric(pdf["seq"]).to_numpy(np.uint64)
    head["op"] = pdf["op"].map(ord).to_numpy(np.uint8)

    # var fields: utf-8 encode (per element), lengths into the head
    var_cols: list[list[bytes]] = []
    for j, f in enumerate(_VAR_FIELDS):
        s = pdf[f]
        isnull = s.isna().to_numpy()
        if f in _NULL_BITS:
            nulls[:] |= isnull.astype(np.int64) << _NULL_BITS[f]
        if f == "raw":
            vals = [b"" if isnull[i] else bytes(v) for i, v in enumerate(s)]
        else:
            vals = [b"" if isnull[i] else str(v).encode("utf-8") for i, v in enumerate(s)]
        head[f"l{j}"] = np.fromiter(map(len, vals), dtype=np.uint32, count=n)
        var_cols.append(vals)
    head["nulls"] = nulls.astype(np.uint16)

    hb = head.tobytes()
    sz = _HEAD_DTYPE.itemsize
    return [
        hb[i * sz : (i + 1) * sz]
        + var_cols[0][i] + var_cols[1][i] + var_cols[2][i]
        + var_cols[3][i] + var_cols[4][i] + var_cols[5][i]
        for i in range(n)
    ]


def encode_typed_events(
    events: DataFrame, enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT
) -> DataFrame:
    """Typed changelog -> packed binary records (distributed, Arrow
    batches; the write side of the wire format). ``enum_dict`` is the
    stream-carried ENUM dictionary (TableMap-meta analog)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"record": _pack_batch(pdf, enum_dict)})

    return events.mapInPandas(run, schema=PACKED_SCHEMA)



def decode_typed_events(
    packed: DataFrame,
    enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT,
    set_dict: tuple[str, ...] = DEFAULT_SET_DICT,
) -> DataFrame:
    """Packed binary records -> fully typed changelog DataFrame (the
    read side; decimal/timestamp/date/binary/JSON/TIME/ENUM/SET all land
    as native Spark values, ready for JVM-side processing)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _unpack_batch(pdf, enum_dict, set_dict)

    return packed.mapInPandas(run, schema=TYPED_EVENT_DDL)
