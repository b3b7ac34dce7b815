"""Value-level encode/decode dispatch: (null-free Arrow array, Encoding) <-> bytes.

This is the ColumnWriter/ColumnReader analogue (SURVEY.md §2.C2/D7) minus page
orchestration, which lives in webcodec.filefmt. All paths are vectorized.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from webcodec.kernels import alp, bitpack, bss, delta, deltalength, dictionary, fsst, plain, prefix, rle
from webcodec.kernels.varint import read_uvarint, write_uvarint
from webcodec.types import IS_VARLEN, NUMPY_OF, Encoding, PhysType


def varlen_parts(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """(int64 offsets, data bytes) honoring array offset; arr must be null-free."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    buffers = arr.buffers()
    big = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    odt = np.int64 if big else np.int32
    offsets = np.frombuffer(buffers[1], dtype=odt, count=arr.offset + len(arr) + 1)
    offsets = offsets[arr.offset :].astype(np.int64)
    data = memoryview(buffers[2]) if buffers[2] is not None else memoryview(b"")
    return offsets, data


def sample_payload(arr: pa.Array, max_values: int = 2048, max_bytes: int = 1 << 14) -> bytes:
    """First <=max_bytes of the value bytes of a null-free varlen array."""
    sl = arr.slice(0, max_values)
    if isinstance(sl, pa.ChunkedArray):
        sl = sl.combine_chunks()
    offsets, data = varlen_parts(sl)
    return bytes(data[int(offsets[0]) : int(offsets[0]) + max_bytes])


def fixed_values(arr: pa.Array, phys: PhysType) -> np.ndarray:
    if phys == PhysType.TIMESTAMP_US:
        arr = arr.cast(pa.int64())
    elif phys == PhysType.DATE32:
        arr = arr.cast(pa.int32())
    return arr.to_numpy(zero_copy_only=False).view(NUMPY_OF[phys])


def child_fallback(child_phys: PhysType) -> Encoding:
    """Fixed encoding of a Dremel leaf under a list (filefmt): chosen by
    type alone, no sampled selection."""
    if child_phys in IS_VARLEN:
        return Encoding.DELTA_LENGTH
    if child_phys in (PhysType.FLOAT32, PhysType.FLOAT64):
        return Encoding.BYTE_STREAM_SPLIT
    if child_phys == PhysType.BOOL:
        return Encoding.PLAIN
    return Encoding.DELTA_BINARY_PACKED


def rebuild_with_nulls(values: pa.Array, mask: np.ndarray, arrow_type: pa.DataType) -> pa.Array:
    """Expand a null-free decoded array to full length with a validity bitmap
    (mask True = valid). Shared by page-level null rebuild and Dremel leaf
    assembly (filefmt)."""
    n = len(mask)
    bitmap = pa.py_buffer(bitpack.pack_bools(mask))
    if pa.types.is_boolean(arrow_type):
        full = np.zeros(n, dtype=bool)
        full[mask] = values.to_numpy(zero_copy_only=False).astype(bool)
        return pa.Array.from_buffers(
            arrow_type, n, [bitmap, pa.py_buffer(bitpack.pack_bools(full))],
            null_count=int((~mask).sum()),
        )
    if (
        pa.types.is_string(arrow_type) or pa.types.is_binary(arrow_type)
        or pa.types.is_large_string(arrow_type) or pa.types.is_large_binary(arrow_type)
    ):
        offsets, data = varlen_parts(values)
        lens = np.diff(offsets)
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[mask] = lens
        big = pa.types.is_large_string(arrow_type) or pa.types.is_large_binary(arrow_type)
        odt = np.int64 if big else np.int32
        full_off = np.zeros(n + 1, dtype=odt)
        np.cumsum(full_lens, out=full_off[1:])
        payload = memoryview(data)[int(offsets[0]) : int(offsets[-1])]
        return pa.Array.from_buffers(
            arrow_type, n,
            [bitmap, pa.py_buffer(full_off.tobytes()), pa.py_buffer(bytes(payload))],
            null_count=int((~mask).sum()),
        )
    if pa.types.is_list(arrow_type):
        # outer validity over list offsets: null slots get zero-length ranges
        # and are masked out (NOT silently decoded as empty lists)
        inner = values
        # rebase by inner.offset — a sliced input's buffers are the parent's
        # (flatten() below honors the slice; the raw buffer read must too)
        offs = np.frombuffer(
            inner.buffers()[1], dtype=np.int32, count=inner.offset + len(inner) + 1
        )[inner.offset:]
        lens = np.diff(offs)
        full_lens = np.zeros(n, dtype=np.int64)
        full_lens[mask] = lens
        full_off = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(full_lens, out=full_off[1:])
        out = pa.ListArray.from_arrays(
            pa.array(full_off, type=pa.int32()), inner.flatten(),
            mask=pa.array(~mask),
        )
        return out.cast(arrow_type) if out.type != arrow_type else out
    # fixed width
    base = arrow_type
    if pa.types.is_timestamp(arrow_type):
        base = pa.int64()
        values = values.cast(pa.int64())
    elif pa.types.is_date32(arrow_type):
        base = pa.int32()
        values = values.cast(pa.int32())
    dt = values.type.to_pandas_dtype()
    full = np.zeros(n, dtype=dt)
    full[mask] = values.to_numpy(zero_copy_only=False)
    out = pa.Array.from_buffers(
        base, n, [bitmap, pa.py_buffer(full.tobytes())], null_count=int((~mask).sum())
    )
    return out.cast(arrow_type) if base != arrow_type else out


def encode_values(
    arr: pa.Array,
    phys: PhysType,
    encoding: Encoding,
    fsst_sample: int = 1 << 14,
    fsst_table=None,
    alp_hint: tuple | None = None,
) -> bytes:
    """Encode a null-free array slice. DICT is handled at chunk level, not here."""
    n = len(arr)
    if phys == PhysType.BOOL:
        v = arr.to_numpy(zero_copy_only=False).astype(bool)
        if encoding == Encoding.RLE:
            return rle.encode(v.astype(np.uint64), 1)
        return bitpack.pack_bools(v)

    if phys == PhysType.LIST_FLOAT32:
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=arr.offset + n + 1)
        offsets = offsets[arr.offset :].astype(np.int64)
        child = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
        lens_enc = delta.encode(np.diff(offsets))
        return write_uvarint(len(lens_enc)) + lens_enc + bss.encode(child)

    if phys in IS_VARLEN:
        offsets, data = varlen_parts(arr)
        if encoding == Encoding.DELTA_LENGTH:
            return deltalength.encode(offsets, data)
        if encoding == Encoding.DELTA_BYTE_ARRAY:
            return prefix.encode(offsets, data)
        if encoding == Encoding.FSST:
            lens_enc, payload = deltalength.encode_parts(offsets, data)
            blob = fsst.compress(payload, fsst_sample, table=fsst_table)
            return write_uvarint(len(lens_enc)) + lens_enc + blob
        if encoding == Encoding.PLAIN:
            return plain.encode_binary(offsets, data)
        raise ValueError(f"bad varlen encoding {encoding}")

    v = fixed_values(arr, phys)
    if encoding == Encoding.PLAIN:
        return plain.encode_fixed(v)
    if encoding == Encoding.DELTA_BINARY_PACKED:
        return delta.encode(v.view(np.int64) if v.dtype.itemsize == 8 else v.astype(np.int64))
    if encoding == Encoding.BYTE_STREAM_SPLIT:
        return bss.encode(v)
    if encoding == Encoding.ALP:
        return alp.encode(v, alp_hint)
    if encoding == Encoding.RLE:
        u = v.astype(np.int64).view(np.uint64)
        width = bitpack.max_bit_width(u)
        return bytes([width]) + rle.encode(u, width)
    raise ValueError(f"bad fixed encoding {encoding} for {phys}")


def decode_values(
    data: bytes | memoryview,
    phys: PhysType,
    encoding: Encoding,
    n: int,
    arrow_type: pa.DataType,
) -> pa.Array:
    """Inverse of :func:`encode_values`; returns a null-free Arrow array."""
    if phys == PhysType.BOOL:
        if encoding == Encoding.RLE:
            v = rle.decode(data, 1, n).astype(bool)
        else:
            v = bitpack.unpack_bools(data, n)
        return pa.array(v, type=pa.bool_())

    if phys == PhysType.LIST_FLOAT32:
        buf = memoryview(data)
        ll, pos = read_uvarint(buf, 0)
        lens = delta.decode(buf[pos : pos + ll], n)
        child_n = int(lens.sum()) if n else 0
        child = bss.decode(buf[pos + ll :], np.float32, child_n)
        offsets = np.zeros(n + 1, dtype=np.int32)
        if n:
            np.cumsum(lens, out=offsets[1:])
        child_arr = pa.array(child, type=pa.float32())
        return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), child_arr)

    if phys in IS_VARLEN:
        if encoding == Encoding.DELTA_LENGTH:
            return deltalength.decode(data, n, arrow_type)
        if encoding == Encoding.DELTA_BYTE_ARRAY:
            return prefix.decode(data, n, arrow_type)
        if encoding == Encoding.FSST:
            buf = memoryview(data)
            ll, pos = read_uvarint(buf, 0)
            lens = delta.decode(buf[pos : pos + ll], n)
            payload = fsst.decompress(buf[pos + ll :])
            return deltalength.from_parts(lens, payload, n, arrow_type)
        if encoding == Encoding.PLAIN:
            return plain.decode_binary(data, n, arrow_type)
        raise ValueError(f"bad varlen encoding {encoding}")

    dt = NUMPY_OF[phys]
    if encoding == Encoding.PLAIN:
        v = plain.decode_fixed(data, dt, n)
    elif encoding == Encoding.DELTA_BINARY_PACKED:
        v = delta.decode(data, n)
        v = v.view(dt) if dt.itemsize == 8 else v.astype(dt)
    elif encoding == Encoding.BYTE_STREAM_SPLIT:
        v = bss.decode(data, dt, n)
    elif encoding == Encoding.ALP:
        v = alp.decode(data, dt, n)
    elif encoding == Encoding.RLE:
        buf = memoryview(data)
        width = buf[0]
        v = rle.decode(buf[1:], width, n).view(np.int64).astype(dt)
    else:
        raise ValueError(f"bad fixed encoding {encoding} for {phys}")
    if phys == PhysType.TIMESTAMP_US:
        return pa.array(v.view(np.int64), type=pa.int64()).cast(arrow_type)
    if phys == PhysType.DATE32:
        return pa.array(v.view(np.int32), type=pa.int32()).cast(arrow_type)
    return pa.array(v, type=arrow_type)


# ---- dictionary pages (chunk-level) ------------------------------------------


def encode_dict_page(
    dict_values: pa.Array, phys: PhysType, use_fsst: bool, fsst_sample: int = 1 << 14
) -> tuple[bytes, Encoding]:
    """Dict page payload: the distinct values, themselves lightweight-encoded.

    north_star: FSST applied *inside* dict pages for url/lang/text.
    """
    if phys in IS_VARLEN:
        inner = Encoding.FSST if (use_fsst and phys == PhysType.STRING) else Encoding.DELTA_LENGTH
        raw = encode_values(dict_values, phys, Encoding.DELTA_LENGTH)
        if inner == Encoding.FSST:
            cand = encode_values(dict_values, phys, Encoding.FSST, fsst_sample)
            if len(cand) < len(raw):
                return cand, Encoding.FSST
        return raw, Encoding.DELTA_LENGTH
    enc = Encoding.PLAIN
    return encode_values(dict_values, phys, enc), enc


def decode_dict_page(
    data: bytes | memoryview, phys: PhysType, inner: Encoding, n: int, arrow_type: pa.DataType
) -> pa.Array:
    return decode_values(data, phys, inner, n, arrow_type)


def encode_dict_indices(indices: np.ndarray, dict_size: int) -> bytes:
    return dictionary.encode_indices(indices, dict_size)


def decode_dict_indices(data: bytes | memoryview, n: int) -> np.ndarray:
    return dictionary.decode_indices(data, n)
