"""Typed packed change-event codec — full column-type decode at the
ingest edge (SURVEY §1.4 / §2.8 C9).

The reference decodes every MySQL binlog column type from raw bytes:
ints of all widths, NEWDECIMAL(p,s), FLOAT/DOUBLE, BIT/SET,
TIMESTAMP2/DATETIME2(fsp), DATE/YEAR, ENUM, BLOB, VARCHAR and binary
JSON (siddontang/go-mysql/replication/row_event.go:395-540, 571-814;
json_binary.go). The string-only codec in ``binlog_codec`` covers the
input_hint schema; this module is the typed superset, proving the engine
can carry every reference-decodable type through the wire format:

| wire field   | encoding               | MySQL analog (row_event.go)   |
|--------------|------------------------|-------------------------------|
| version      | u8 (=3)                | FORMAT_DESCRIPTION_EVENT      |
| seq          | u64                    | LONGLONG :418-432             |
| op           | u8                     | event type                    |
| size_bytes   | i64                    | LONGLONG                      |
| mode         | i32 (signed)           | LONG/INT24 :418-432           |
| score        | i64 scaled 1e-4        | NEWDECIMAL(12,4) :433-436,571 |
| ratio        | f64                    | DOUBLE :437-442               |
| mtime        | i64 epoch micros       | DATETIME2(fsp) :456-471,686   |
| mdate        | i32 days since epoch   | DATE :486-497                 |
| flags_bits   | i64                    | BIT / SET :443-448,633        |
| dur          | i64 micros since 00:00 | TIME/TIME2(fsp) :472-485,735  |
| category     | u16 dictionary id      | ENUM :498-509                 |
| meta         | utf-8 (JSON text)      | JSON :523-527; json_binary.go |
| raw          | length-prefixed bytes  | BLOB :515-516,816             |
| repo/path/commit/content | utf-8        | VARCHAR/STRING :517-522  |

NULLs travel in a u16 null bitmap — the per-row null-bitmap analog
(row_event.go:354-365). TIME decodes to a "HH:MM:SS.ffffff" string
(SURVEY §1.4: no IntervalType need). ENUM travels as a dictionary id and
decodes to its string via a stream-carried dictionary (the TableMap
column-meta analog, row_event.go:139-184); SET decodes ``flags_bits``
additionally into a ``flags_set`` comma-joined member string from its
own dictionary (row_event.go:510-514,633). The leading version byte
makes records from an older codec fail loudly; the decoder also
cross-checks each record's byte length against its header-implied
length.

Both directions run as ``mapInArrow`` over Arrow buffers (one Python
call per batch, partition-local, no shuffle, no per-row Python objects);
everything downstream of the decode is typed columns handled fully
JVM-side. The readable ``mapInPandas`` implementation the tests check
these against lives in ``tests/typed_codec_reference.py``.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

PACKED_SCHEMA = T.StructType([T.StructField("record", T.BinaryType(), False)])

#: decoded output schema; ``flags_set`` is decode-derived (SET dictionary
#: over flags_bits), not a wire field
TYPED_EVENT_DDL = (
    "seq long, op string, repo string, path string, commit string, "
    "size_bytes long, mode int, score decimal(12,4), ratio double, "
    "mtime timestamp, mdate date, flags_bits long, dur string, "
    "category string, flags_set string, meta string, "
    "raw binary, content string"
)

#: wire format version (FORMAT_DESCRIPTION analog); v3 added TIME + ENUM
TYPED_WIRE_VERSION = 3

#: default stream-carried dictionaries (the TableMap-meta analog) —
#: callers pass their own per-stream dictionaries to encode/decode
DEFAULT_ENUM_DICT = ("rust", "go", "python", "java", "c", "js", "ts")
DEFAULT_SET_DICT = (
    "read", "write", "exec", "hidden", "archived", "pinned", "locked", "starred",
)

# null-bitmap bit positions
_NULL_BITS = {
    "commit": 0, "size_bytes": 1, "mode": 2, "score": 3, "ratio": 4,
    "mtime": 5, "mdate": 6, "flags_bits": 7, "meta": 8, "raw": 9,
    "content": 10, "dur": 11, "category": 12,
}

# header + fixed-width section + 6 var-field lengths, little-endian,
# no padding: version, seq, op, nullbits | size, mode, score*1e4, ratio,
# mtime_us, mdate_days, flags, dur_us, category_id | len(repo..content)
_FMT = struct.Struct("<BQBHqiqdqiqqH6I")
_VAR_FIELDS = ["repo", "path", "commit", "meta", "raw", "content"]


#: numpy view of the fixed-width head (matches _FMT, little-endian)
_HEAD_DTYPE = np.dtype(
    [
        ("ver", "u1"), ("seq", "<u8"), ("op", "u1"), ("nulls", "<u2"),
        ("size_bytes", "<i8"), ("mode", "<i4"), ("score", "<i8"),
        ("ratio", "<f8"), ("mtime", "<i8"), ("mdate", "<i4"),
        ("flags_bits", "<i8"), ("dur", "<i8"), ("cat", "<u2"),
        ("l0", "<u4"), ("l1", "<u4"), ("l2", "<u4"),
        ("l3", "<u4"), ("l4", "<u4"), ("l5", "<u4"),
    ]
)
assert _HEAD_DTYPE.itemsize == _FMT.size


_OUT_COLS = [
    "seq", "op", "repo", "path", "commit", "size_bytes", "mode",
    "score", "ratio", "mtime", "mdate", "flags_bits", "dur", "category",
    "flags_set", "meta", "raw", "content",
]


# ---------------------------------------------------------------------------
# Arrow-native codec (mapInArrow): no per-row Python objects at all
# ---------------------------------------------------------------------------


def _record_buffers(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, rec_starts, rec_lens) views over an Arrow binary column's
    buffers — no per-record bytes objects."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    col = col.cast(pa.large_binary())  # int64 offsets, uniform handling
    bufs = col.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64, count=len(col) + 1,
                         offset=col.offset * 8)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data, offs[:-1].copy(), np.diff(offs)


def _utf8_from_slices(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray,
    null_mask: np.ndarray, typ=None,
):
    """Build a pyarrow string/binary array straight from (start, len)
    slices of ``data`` — one vectorized gather + Array.from_buffers, zero
    Python string objects."""
    import pyarrow as pa

    typ = typ or pa.utf8()
    lens = np.where(null_mask, 0, lens)
    out_off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    total = int(out_off[-1])
    if total:
        idx = np.arange(total, dtype=np.int64) + np.repeat(
            starts - out_off[:-1], lens
        )
        vals = data[idx]
    else:
        vals = np.empty(0, dtype=np.uint8)
    validity = pa.py_buffer(np.packbits(~null_mask, bitorder="little"))
    if typ in (pa.utf8(), pa.binary()):
        # utf8/binary carry int32 offsets: a batch whose var bytes for one
        # column exceed 2^31-1 would WRAP on the astype and yield corrupt
        # decoded data with no error (ADVICE round 3). Each record's
        # fields are u32-bounded on the wire, but a batch of ~10k rows of
        # ~250KB payloads crosses 2GiB legitimately — fail loudly with
        # the knob that fixes it (smaller Arrow batches).
        if total > np.iinfo(np.int32).max:
            raise ValueError(
                f"decoded var-field bytes ({total}) exceed the int32 "
                "offset range of Arrow utf8/binary — lower "
                "spark.sql.execution.arrow.maxRecordsPerBatch so each "
                "batch stays under 2GiB per column"
            )
        offsets32 = out_off.astype(np.int32)
        return pa.Array.from_buffers(
            typ, len(lens),
            [validity, pa.py_buffer(offsets32), pa.py_buffer(vals)],
        )
    return pa.Array.from_buffers(
        typ, len(lens), [validity, pa.py_buffer(out_off), pa.py_buffer(vals)]
    )


def _dur_utf8(us: np.ndarray, null_mask: np.ndarray):
    """'HH:MM:SS.ffffff' as fixed-width digit arithmetic — fully
    vectorized, no Python string formatting."""
    import pyarrow as pa

    n = len(us)
    h, rem = np.divmod(us, 3_600_000_000)
    m, rem = np.divmod(rem, 60_000_000)
    s, frac = np.divmod(rem, 1_000_000)
    out = np.empty((n, 15), dtype=np.uint8)
    zero = ord("0")
    out[:, 0] = zero + h // 10
    out[:, 1] = zero + h % 10
    out[:, 2] = ord(":")
    out[:, 3] = zero + m // 10
    out[:, 4] = zero + m % 10
    out[:, 5] = ord(":")
    out[:, 6] = zero + s // 10
    out[:, 7] = zero + s % 10
    out[:, 8] = ord(".")
    f = frac
    for i in range(6):
        out[:, 14 - i] = zero + f % 10
        f = f // 10
    lens = np.where(null_mask, 0, 15).astype(np.int64)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    vals = out[~null_mask].reshape(-1)
    validity = pa.py_buffer(np.packbits(~null_mask, bitorder="little"))
    return pa.Array.from_buffers(
        pa.utf8(), n,
        [validity, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(vals)],
    )


def _decode_arrow_batch(batch, enum_dict, set_dict):
    """One Arrow RecordBatch of packed records -> one decoded RecordBatch.
    Every column is built from numpy/Arrow buffers; the only Python-level
    loops are over the 6 var FIELDS and the dictionary entries, never
    over rows — this removes the per-row object-construction floor the
    mapInPandas decode pays (round-2 audit of cdc_decode_typed)."""
    import pyarrow as pa

    data, rec_starts, rec_lens = _record_buffers(batch.column(0))
    n = len(rec_starts)
    if rec_lens.size and rec_lens.min() < _FMT.size:
        raise ValueError("packed record shorter than its fixed header")
    head_bytes = data[rec_starts[:, None] + np.arange(_FMT.size)]
    head = np.ascontiguousarray(head_bytes).view(_HEAD_DTYPE).reshape(n)
    if (head["ver"] != TYPED_WIRE_VERSION).any():
        bad = int(head["ver"][head["ver"] != TYPED_WIRE_VERSION][0])
        raise ValueError(
            f"typed record has wire-format version {bad}, decoder speaks "
            f"{TYPED_WIRE_VERSION}"
        )
    lens = np.stack([head[f"l{j}"].astype(np.int64) for j in range(6)], axis=1)
    if (lens.sum(axis=1) + _FMT.size != rec_lens).any():
        raise ValueError(
            "typed record length does not match its header-implied length"
        )
    nulls = head["nulls"].astype(np.int64)

    def mask(name: str) -> np.ndarray:
        return ((nulls >> _NULL_BITS[name]) & 1).astype(bool)

    def num(name: str, arr, typ):
        return pa.array(arr, type=typ, mask=mask(name), from_pandas=True)

    cols: dict = {
        "seq": pa.array(head["seq"].astype(np.int64), pa.int64()),
        "size_bytes": num("size_bytes", head["size_bytes"].astype(np.int64), pa.int64()),
        "mode": num("mode", head["mode"].astype(np.int32), pa.int32()),
        "ratio": num("ratio", head["ratio"].astype(np.float64), pa.float64()),
        "mtime": num("mtime", head["mtime"].astype(np.int64), pa.timestamp("us")),
        "mdate": num("mdate", head["mdate"].astype(np.int32), pa.date32()),
        "flags_bits": num("flags_bits", head["flags_bits"].astype(np.int64), pa.int64()),
    }
    # op: single ASCII char per record -> fixed-width utf8
    op_off = np.arange(n + 1, dtype=np.int32)
    cols["op"] = pa.Array.from_buffers(
        pa.utf8(), n,
        [None, pa.py_buffer(op_off), pa.py_buffer(head["op"].copy())],
    )
    # decimal(12,4): unscaled int64 -> decimal128 buffer (lo, hi words)
    dec = np.zeros((n, 2), dtype="<i8")
    dec[:, 0] = head["score"]
    dec[:, 1] = np.where(head["score"] < 0, -1, 0)
    score_mask = mask("score")
    cols["score"] = pa.Array.from_buffers(
        pa.decimal128(12, 4), n,
        [pa.py_buffer(np.packbits(~score_mask, bitorder="little")),
         pa.py_buffer(dec)],
    )
    cols["dur"] = _dur_utf8(head["dur"].astype(np.int64), mask("dur"))
    # ENUM: ids -> dictionary array -> utf8
    cat_mask = mask("category")
    cat_ids = head["cat"].astype(np.int64)
    # valid ids are 1..len (MySQL ENUM ids are 1-based): id 0 on a
    # non-null record is corrupt input and must fail LOUDLY — silently
    # clamping would decode to an arbitrary dictionary entry (and the
    # pandas path's enum_dict[id-1] would pick a DIFFERENT wrong one)
    if (((cat_ids > len(enum_dict)) | (cat_ids < 1)) & ~cat_mask).any():
        raise ValueError("ENUM id outside the stream dictionary")
    cols["category"] = pa.DictionaryArray.from_arrays(
        pa.array(np.maximum(cat_ids - 1, 0).astype(np.int32), mask=cat_mask,
                 from_pandas=True),
        pa.array(list(enum_dict), pa.utf8()),
    ).cast(pa.utf8())
    # SET: render only the bit patterns PRESENT in this batch (a 2^k LUT
    # would explode for legitimate MySQL SETs of up to 64 members)
    codes = head["flags_bits"].astype(np.int64)
    if len(set_dict) < 64:
        codes = codes & ((np.int64(1) << len(set_dict)) - 1)
    uniq = np.unique(codes)
    lut = [
        ",".join(nm for j, nm in enumerate(set_dict) if (v >> j) & 1)
        for v in uniq.tolist()
    ]
    fs_idx = np.searchsorted(uniq, codes).astype(np.int32)
    cols["flags_set"] = pa.DictionaryArray.from_arrays(
        pa.array(fs_idx, mask=mask("flags_bits"), from_pandas=True),
        pa.array(lut, pa.utf8()) if lut else pa.array([""], pa.utf8()),
    ).cast(pa.utf8())
    # var fields: straight buffer gathers
    starts = rec_starts[:, None] + _FMT.size + np.concatenate(
        [np.zeros((n, 1), dtype=np.int64), np.cumsum(lens, axis=1)[:, :-1]], axis=1
    )
    import pyarrow as _pa

    for j, f in enumerate(_VAR_FIELDS):
        bit = _NULL_BITS.get(f)
        fmask = mask(f) if bit is not None else np.zeros(n, dtype=bool)
        typ = _pa.binary() if f == "raw" else _pa.utf8()
        cols[f] = _utf8_from_slices(data, starts[:, j], lens[:, j], fmask, typ)

    import pyarrow as pa2

    return pa2.RecordBatch.from_arrays(
        [cols[c] for c in _OUT_COLS], names=_OUT_COLS
    )


def _np_fixed(col, typ, fill=0) -> tuple[np.ndarray, np.ndarray]:
    """Arrow column -> (values ndarray with nulls filled, null mask)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    m = pc.is_null(col).to_numpy(zero_copy_only=False)
    v = pc.fill_null(col.cast(typ), fill).to_numpy(zero_copy_only=False)
    return v, m


def _utf8_slices(col) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Arrow string/binary column -> (data, starts, lens, null_mask)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    m = pc.is_null(col).to_numpy(zero_copy_only=False)
    col = pc.fill_null(col, b"" if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type) else "")
    big = pa.large_binary() if (pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type)) else pa.large_utf8()
    col = col.cast(big)
    bufs = col.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64, count=len(col) + 1,
                         offset=col.offset * 8)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    starts = offs[:-1].copy()
    lens = np.diff(offs)
    lens = np.where(m, 0, lens)
    return data, starts, lens, m


def _parse_dur_micros(col) -> tuple[np.ndarray, np.ndarray]:
    """'HH:MM:SS.ffffff' strings -> micros-of-day; fixed-width digit
    arithmetic when every value has the canonical 15-char shape, pandas
    to_timedelta fallback otherwise."""
    data, starts, lens, m = _utf8_slices(col)
    n = len(starts)
    out = np.zeros(n, dtype=np.int64)
    nz = ~m
    if nz.any() and (lens[nz] == 15).all():
        idx = starts[nz, None] + np.arange(15)
        # int64 upfront: numpy 2 keeps uint8 under scalar multiply and the
        # microsecond digits would overflow
        d = (data[idx] - ord("0")).astype(np.int64)
        h = d[:, 0] * 10 + d[:, 1]
        mi = d[:, 3] * 10 + d[:, 4]
        s = d[:, 6] * 10 + d[:, 7]
        frac = (
            d[:, 9] * 100000 + d[:, 10] * 10000 + d[:, 11] * 1000
            + d[:, 12] * 100 + d[:, 13] * 10 + d[:, 14]
        )
        out[nz] = (
            h.astype(np.int64) * 3_600_000_000
            + mi.astype(np.int64) * 60_000_000
            + s.astype(np.int64) * 1_000_000
            + frac.astype(np.int64)
        )
    elif nz.any():
        strs = pd.Series(col.to_pylist())
        td = pd.to_timedelta(strs, errors="coerce")
        us = (td.dt.total_seconds() * 1_000_000).round().fillna(0)
        out = us.to_numpy(np.int64)
    return out, m


def _encode_arrow_batch(batch, enum_dict):
    """Typed RecordBatch -> packed binary records, all buffer arithmetic:
    fixed-width heads written with one fancy-index store, var fields with
    one gather-scatter per FIELD (never per row)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    name_idx = {nm: i for i, nm in enumerate(batch.schema.names)}

    def col(nm):
        if nm in name_idx:
            return batch.column(name_idx[nm])
        return pa.nulls(n, pa.string())

    head = np.zeros(n, dtype=_HEAD_DTYPE)
    head["ver"] = TYPED_WIRE_VERSION
    nulls = np.zeros(n, dtype=np.int64)

    def put(name, typ, field=None, conv=None):
        v, m = _np_fixed(col(name), typ)
        nulls[:] |= m.astype(np.int64) << _NULL_BITS[name]
        head[field or name] = conv(v) if conv else v

    import pyarrow as _pa

    put("size_bytes", _pa.int64())
    put("mode", _pa.int32())
    put("ratio", _pa.float64(), conv=lambda v: np.nan_to_num(v, nan=0.0))
    put("flags_bits", _pa.int64())
    put("mtime", _pa.timestamp("us"), conv=lambda v: v.astype("datetime64[us]").astype(np.int64))
    put("mdate", _pa.date32(), conv=lambda v: v.astype("datetime64[D]").astype(np.int64).astype(np.int32))

    # decimal(12,4): unscaled int64 = low word of the decimal128 buffer
    sc = col("score")
    if isinstance(sc, pa.ChunkedArray):
        sc = sc.combine_chunks()
    sc_m = pc.is_null(sc).to_numpy(zero_copy_only=False)
    sc_f = pc.fill_null(sc.cast(pa.decimal128(12, 4)), 0)
    sc_words = np.frombuffer(sc_f.buffers()[1], dtype="<i8")
    head["score"] = sc_words[sc_f.offset * 2 : (sc_f.offset + n) * 2 : 2]
    nulls[:] |= sc_m.astype(np.int64) << _NULL_BITS["score"]

    dur_us, dur_m = _parse_dur_micros(col("dur"))
    head["dur"] = dur_us
    nulls[:] |= dur_m.astype(np.int64) << _NULL_BITS["dur"]

    cat = col("category")
    if isinstance(cat, pa.ChunkedArray):
        cat = cat.combine_chunks()
    cat_m = pc.is_null(cat).to_numpy(zero_copy_only=False)
    ids = pc.index_in(cat, value_set=pa.array(list(enum_dict), pa.utf8()))
    bad = pc.and_(pc.is_null(ids), pc.is_valid(cat)).to_numpy(zero_copy_only=False)
    if bad.any():
        val = cat.to_pylist()[int(np.flatnonzero(bad)[0])]
        raise ValueError(f"ENUM value {val!r} not in the stream dictionary")
    head["cat"] = (
        pc.fill_null(ids, -1).to_numpy(zero_copy_only=False).astype(np.int64) + 1
    ).astype(np.uint16)
    nulls[:] |= cat_m.astype(np.int64) << _NULL_BITS["category"]

    head["seq"] = _np_fixed(col("seq"), pa.int64())[0].astype(np.uint64)
    # op: first byte of the (non-null) single-char strings
    op_data, op_starts, op_lens, _ = _utf8_slices(col("op"))
    head["op"] = op_data[op_starts]

    # var fields: lengths into the head, then one scatter per field
    fields = []
    for j, f in enumerate(_VAR_FIELDS):
        data, starts, lens, m = _utf8_slices(col(f))
        if f in _NULL_BITS:
            nulls[:] |= m.astype(np.int64) << _NULL_BITS[f]
        head[f"l{j}"] = lens.astype(np.uint32)
        fields.append((data, starts, lens))
    head["nulls"] = nulls.astype(np.uint16)

    var_lens = np.stack([fl[2] for fl in fields], axis=1)
    rec_lens = _FMT.size + var_lens.sum(axis=1)
    rec_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(rec_lens, out=rec_off[1:])
    out = np.empty(int(rec_off[-1]), dtype=np.uint8)
    # heads: one strided store
    hb = np.frombuffer(head.tobytes(), dtype=np.uint8).reshape(n, _FMT.size)
    out[rec_off[:-1, None] + np.arange(_FMT.size)] = hb
    # var fields: gather from source, scatter to destination
    dst = rec_off[:-1] + _FMT.size
    for j, (data, starts, lens) in enumerate(fields):
        total = int(lens.sum())
        if total:
            pos = np.arange(total, dtype=np.int64)
            seg_off = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=seg_off[1:])
            src_idx = pos + np.repeat(starts - seg_off, lens)
            dst_idx = pos + np.repeat(dst - seg_off, lens)
            out[dst_idx] = data[src_idx]
        dst = dst + lens

    rec_arr = pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(rec_off), pa.py_buffer(out)]
    )
    return pa.RecordBatch.from_arrays([rec_arr.cast(pa.binary())], names=["record"])


def encode_typed_events_arrow(
    events: DataFrame, enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT
) -> DataFrame:
    """Arrow-native encode via ``mapInArrow`` — the write-side twin of
    ``decode_typed_events_arrow`` (no per-row Python objects)."""

    def run(batches):
        for batch in batches:
            yield _encode_arrow_batch(batch, enum_dict)

    return events.mapInArrow(run, schema=PACKED_SCHEMA)


def decode_typed_events_arrow(
    packed: DataFrame,
    enum_dict: tuple[str, ...] = DEFAULT_ENUM_DICT,
    set_dict: tuple[str, ...] = DEFAULT_SET_DICT,
) -> DataFrame:
    """Arrow-native decode via ``mapInArrow``: record batches in, record
    batches out, all columns constructed from buffers (vectorized gathers,
    fixed-width digit arithmetic for TIME, dictionary arrays for
    ENUM/SET)."""

    def run(batches):
        for batch in batches:
            yield _decode_arrow_batch(batch, enum_dict, set_dict)

    return packed.mapInArrow(run, schema=TYPED_EVENT_DDL)
