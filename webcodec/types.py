"""Physical type and encoding enums for the webcodec page format."""

from __future__ import annotations

import enum

import numpy as np
import pyarrow as pa


class PhysType(enum.IntEnum):
    BOOL = 0
    INT32 = 1
    INT64 = 2
    FLOAT32 = 3
    FLOAT64 = 4
    STRING = 5
    BINARY = 6
    TIMESTAMP_US = 7
    LIST_FLOAT32 = 8  # embeddings support: offsets delta + child BSS
    DATE32 = 9


class Encoding(enum.IntEnum):
    """Superset of the reference's Encoding enum (SURVEY.md §2 A1–A12)."""

    PLAIN = 0
    RLE = 1                 # bools / raw small ints, hybrid stream
    DICT = 2                # RLE_DICTIONARY analogue
    DELTA_BINARY_PACKED = 3
    DELTA_LENGTH = 4
    DELTA_BYTE_ARRAY = 5    # prefix
    BYTE_STREAM_SPLIT = 6
    FSST = 7                # delta lengths + FSST-compressed payload (our extension)
    ALP = 8                 # adaptive lossless FP (SIGMOD'23; our extension)


class Codec(enum.IntEnum):
    """Block compression after encoding (reference: CompressionCodecName, C9)."""

    NONE = 0
    SNAPPY = 1
    GZIP = 2
    ZSTD = 3
    LZ4 = 4
    BROTLI = 5


CODEC_NAMES = {c.name.lower(): c for c in Codec}

_ARROW_TO_PHYS = [
    (pa.bool_(), PhysType.BOOL),
    (pa.int32(), PhysType.INT32),
    (pa.int64(), PhysType.INT64),
    (pa.float32(), PhysType.FLOAT32),
    (pa.float64(), PhysType.FLOAT64),
    (pa.string(), PhysType.STRING),
    (pa.large_string(), PhysType.STRING),
    (pa.binary(), PhysType.BINARY),
    (pa.large_binary(), PhysType.BINARY),
    (pa.timestamp("us"), PhysType.TIMESTAMP_US),
    (pa.date32(), PhysType.DATE32),
    (pa.list_(pa.float32()), PhysType.LIST_FLOAT32),
]


# Narrow types travel widened — the parquet stance (INT_8/INT_16/UINT_*/
# FLOAT16 are logical annotations over INT32/INT64/FLOAT physical storage).
# The original arrow type is preserved in the chunk footer and restored by a
# cast on decode; uint64 widens by BIT REINTERPRET instead (see widened()).
_WIDEN_TO = [
    (pa.int8(), pa.int32()),
    (pa.int16(), pa.int32()),
    (pa.uint8(), pa.int32()),
    (pa.uint16(), pa.int32()),
    (pa.uint32(), pa.int64()),
    (pa.float16(), pa.float32()),
]


def widened(t: pa.DataType) -> pa.DataType | None:
    """The storage type a narrow type widens to, or None if t is canonical."""
    for nt, wt in _WIDEN_TO:
        if t.equals(nt):
            return wt
    if pa.types.is_time32(t):
        # parquet's TIME stance: the value IS the int (ms/s since midnight);
        # the footer-preserved original type restores the unit on decode
        return pa.int32()
    if pa.types.is_time64(t) or pa.types.is_duration(t):
        return pa.int64()
    if t.equals(pa.uint64()):
        # parquet's UINT_64-over-INT64 stance: the 8 bytes travel bit-exact
        # (widen_array/restore_array reinterpret buffers, no value cast —
        # values >= 2^63 would overflow a checked cast); stats for these
        # columns are computed in the unsigned domain (stats.page_stats)
        return pa.int64()
    if pa.types.is_fixed_size_binary(t):
        # parquet's UUID/FLBA stance inverted: FIXED_LEN_BYTE_ARRAY(n) stores
        # as variable BINARY (all lengths equal n, so DELTA_LENGTH's length
        # stream RLEs to nothing); footer type restores fixed_size_binary[n]
        return pa.binary()
    if pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        # offset-width / fixed-length list variants store as plain list<>
        # (fixed_size_list<float,d> embeddings thereby take the BSS fast
        # path); the footer type restores the exact variant on decode.
        # A >2^31-value large_list chunk would overflow the cast — at that
        # point the column must be split across row groups anyway.
        return pa.list_(t.value_field)
    return None


def _reinterpret64(arr: pa.Array, target: pa.DataType) -> pa.Array:
    """Zero-copy int64<->uint64 bit reinterpret (same buffer layout)."""
    return pa.Array.from_buffers(target, len(arr), arr.buffers()[:2],
                                 null_count=arr.null_count, offset=arr.offset)


def restore_array(arr: pa.Array, target: pa.DataType) -> pa.Array:
    """``arr.cast(target)`` with a bit-reinterpret path for the uint64
    storage stance (a checked int64->uint64 cast raises on the negative
    bit patterns that represent values >= 2^63)."""
    if target.equals(pa.uint64()) and arr.type.equals(pa.int64()):
        return _reinterpret64(arr, pa.uint64())
    return arr.cast(target)


def widen_array(arr: pa.Array, target: pa.DataType) -> pa.Array:
    """``arr.cast(target)`` with a manual path for fixed_size_binary:
    pyarrow 16.1.0's FSB->binary cast kernel SEGFAULTS on arrays with a
    non-zero offset (any slice — e.g. a record-batch boundary), so build
    the variable-width array directly from the FSB buffer instead."""
    if arr.type.equals(pa.uint64()) and target.equals(pa.int64()):
        return _reinterpret64(arr, pa.int64())
    if not pa.types.is_fixed_size_binary(arr.type):
        return arr.cast(target)
    w = arr.type.byte_width
    n = len(arr)
    offsets = (np.arange(n + 1, dtype=np.int64) * w).astype(np.int32)
    dbuf = arr.buffers()[1]
    data = (
        pa.py_buffer(bytes(memoryview(dbuf)[arr.offset * w : (arr.offset + n) * w]))
        if dbuf is not None and n
        else pa.py_buffer(b"")
    )
    vbuf = None
    if arr.null_count:
        m = np.zeros(n, dtype=bool)
        m[:] = arr.is_valid().to_numpy(zero_copy_only=False)
        vbuf = pa.py_buffer(np.packbits(m, bitorder="little").tobytes())
    return pa.Array.from_buffers(
        pa.binary(), n, [vbuf, pa.py_buffer(offsets.tobytes()), data]
    )


def phys_type_of(t: pa.DataType) -> PhysType:
    w = widened(t)
    if w is not None:
        t = w
    for at, pt in _ARROW_TO_PHYS:
        if t.equals(at):
            return pt
    if pa.types.is_timestamp(t):
        return PhysType.TIMESTAMP_US
    raise TypeError(f"unsupported arrow type: {t}")


NUMPY_OF = {
    PhysType.INT32: np.dtype("<i4"),
    PhysType.INT64: np.dtype("<i8"),
    PhysType.FLOAT32: np.dtype("<f4"),
    PhysType.FLOAT64: np.dtype("<f8"),
    PhysType.TIMESTAMP_US: np.dtype("<i8"),
    PhysType.DATE32: np.dtype("<i4"),
}

IS_VARLEN = {PhysType.STRING, PhysType.BINARY}
IS_FIXED = set(NUMPY_OF)


def arrow_type_json(t: pa.DataType) -> str:
    return str(t)


def arrow_type_from_json(s: str) -> pa.DataType:
    mapping = {
        "bool": pa.bool_(),
        "int8": pa.int8(),
        "int16": pa.int16(),
        "uint8": pa.uint8(),
        "uint16": pa.uint16(),
        "uint32": pa.uint32(),
        "uint64": pa.uint64(),
        "halffloat": pa.float16(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "large_string": pa.large_string(),
        "binary": pa.binary(),
        "large_binary": pa.large_binary(),
        "timestamp[us]": pa.timestamp("us"),
        "date32[day]": pa.date32(),
        "list<item: float>": pa.list_(pa.float32()),
    }
    if s in mapping:
        return mapping[s]
    # any timestamp unit, with or without tz: values travel as int64 and the
    # footer-preserved original type restores the unit on decode
    if s.startswith("timestamp[") and s.endswith("]"):
        inner = s[len("timestamp[") : -1]
        if ", tz=" in inner:
            unit, tz = inner.split(", tz=", 1)
            return pa.timestamp(unit, tz=tz)
        if inner in ("s", "ms", "us", "ns"):
            return pa.timestamp(inner)
    # time-of-day and duration: values travel as int32/int64 (the TIME-
    # over-INT32/INT64 parquet stance via widened()); unit restored here
    for prefix, ctor in (("time32[", pa.time32), ("time64[", pa.time64),
                         ("duration[", pa.duration)):
        if s.startswith(prefix) and s.endswith("]"):
            return ctor(s[len(prefix):-1])
    if s.startswith("decimal128(") and s.endswith(")"):
        p, sc = s[len("decimal128(") : -1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("fixed_size_binary[") and s.endswith("]"):
        return pa.binary(int(s[len("fixed_size_binary[") : -1]))
    if s.startswith("fixed_size_list<") and s.endswith("]"):
        inner, _, size = s[len("fixed_size_list<") :].rpartition(">[")
        cname, child = ("item", inner) if ": " not in inner else inner.split(": ", 1)
        nullable = True
        if child.endswith(" not null"):
            nullable = False
            child = child.removesuffix(" not null")
        field = pa.field(cname, arrow_type_from_json(child), nullable=nullable)
        return pa.list_(field, int(size[:-1]))
    # list child field name varies by producer ("item", "element", ...) —
    # preserve BOTH the name and the nullability so list schemas round-trip
    # (list<element: int64 not null> must not come back as list<item: int64>)
    for prefix in ("list<", "large_list<"):
        if s.startswith(prefix) and s.endswith(">"):
            inner = s[len(prefix) : -1]
            cname = "item"
            child = inner
            if ": " in inner:
                cname, child = inner.split(": ", 1)
            nullable = True
            if child.endswith(" not null"):
                nullable = False
                child = child.removesuffix(" not null")
            field = pa.field(cname, arrow_type_from_json(child), nullable=nullable)
            return pa.large_list(field) if prefix == "large_list<" else pa.list_(field)
    raise TypeError(f"cannot parse arrow type {s!r}")
