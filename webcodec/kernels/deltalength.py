"""DELTA_LENGTH_BYTE_ARRAY: all lengths DELTA_BINARY_PACKED, then all bytes.

Reference parity (SURVEY.md §2.A9): parquet-java
``DeltaLengthByteArrayValuesWriter`` (a DeltaBinaryPacking writer for lengths +
a raw byte stream). This is exactly Arrow's variable-length layout
(offsets + data), so encode is ``np.diff(offsets)`` -> delta kernel + the data
buffer as-is; decode rebuilds an Arrow array zero-copy from the two buffers.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from webcodec.kernels import delta
from webcodec.kernels.varint import read_uvarint, write_uvarint


def encode_parts(offsets: np.ndarray, data: bytes | memoryview) -> tuple[bytes, memoryview]:
    """Returns (encoded_lengths, payload_view) for Arrow offsets+data — the
    payload is a zero-copy VIEW of the Arrow data buffer (the page path
    materializes it exactly once, inside the final join)."""
    offs = offsets.astype(np.int64, copy=False)
    lens = np.diff(offs)
    payload = memoryview(data)[int(offs[0]) : int(offs[-1])]
    return delta.encode(lens), payload


def encode(offsets: np.ndarray, data: bytes | memoryview) -> bytes:
    enc_lens, payload = encode_parts(offsets, data)
    # bytes.join copies each segment ONCE into a single allocation — the
    # former uvarint + enc_lens + bytes(payload) chain copied the multi-MB
    # payload twice per page on the hot string path
    return b"".join((write_uvarint(len(enc_lens)), enc_lens, payload))


def decode(data: bytes | memoryview, n: int, arrow_type: pa.DataType | None = None) -> pa.Array:
    buf = memoryview(data)
    ll, pos = read_uvarint(buf, 0)
    lens = delta.decode(buf[pos : pos + ll], n)
    payload = buf[pos + ll :]
    return from_parts(lens, payload, n, arrow_type)


def checked_total(lens: np.ndarray, avail: int) -> int:
    """Sum of decoded value lengths, after checking that none is negative and
    that together they fit the ``avail`` payload bytes (a corrupt or crafted
    page would otherwise give Arrow offsets out of bounds)."""
    if len(lens) and (int(lens.min()) < 0 or int(lens.max()) > avail):
        raise ValueError(f"string lengths outside [0, {avail}]: page corrupt")
    total = int(lens.sum())
    if total > avail:
        raise ValueError(f"string lengths sum to {total} > {avail} payload bytes: page corrupt")
    return total


def from_parts(
    lens: np.ndarray, payload: bytes | memoryview, n: int, arrow_type: pa.DataType | None = None
) -> pa.Array:
    arrow_type = arrow_type or pa.binary()
    total = checked_total(lens, memoryview(payload).nbytes) if n else 0
    use_large = arrow_type in (pa.large_string(), pa.large_binary()) or total > (1 << 31) - 8
    odtype = np.int64 if use_large else np.int32
    offsets = np.zeros(n + 1, dtype=odtype)
    if n:
        np.cumsum(lens, out=offsets[1:])
    if use_large and arrow_type == pa.string():
        arrow_type = pa.large_string()
    elif use_large and arrow_type == pa.binary():
        arrow_type = pa.large_binary()
    return pa.Array.from_buffers(
        arrow_type,
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(bytes(payload[:total]))],
    )
