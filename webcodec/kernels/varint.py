"""ULEB128 varints + zigzag, vectorized where it matters.

Reference parity: the RLE/bit-pack hybrid and DELTA_BINARY_PACKED headers use
LEB128 varints and zigzag ints (SURVEY.md §2.A3/A8; parquet-java
``RunLengthBitPackingHybridEncoder`` / ``DeltaBinaryPackingValuesWriter``).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64


def write_uvarint(x: int) -> bytes:
    """ULEB128-encode one unsigned int (scalar — headers only)."""
    out = bytearray()
    x = int(x)
    if x < 0:
        # Python's arithmetic shift keeps negatives negative forever — a
        # caller bug would otherwise hang with unbounded memory growth
        raise ValueError(f"uvarint requires a non-negative int, got {x}")
    while True:
        b = x & 0x7F
        x >>= 7
        if x:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_uvarint(buf: bytes | memoryview, pos: int) -> tuple[int, int]:
    """Read one ULEB128 varint; returns (value, new_pos). A varint cut off
    by the end of ``buf`` raises ``ValueError``."""
    result = 0
    shift = 0
    while True:
        try:
            b = buf[pos]
        except IndexError:
            raise ValueError(f"varint truncated at byte {pos} of {len(buf)}") from None
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


def zigzag64(v: np.ndarray) -> np.ndarray:
    """int64 -> uint64 zigzag, vectorized."""
    v = v.astype(np.int64, copy=False)
    return ((v.astype(_U64) << _U64(1)) ^ (v >> np.int64(63)).astype(_U64)).astype(_U64)


def unzigzag64(u: np.ndarray) -> np.ndarray:
    """uint64 zigzag -> int64, vectorized."""
    u = u.astype(_U64, copy=False)
    return ((u >> _U64(1)) ^ (-(u & _U64(1)).astype(np.int64)).astype(_U64)).astype(np.int64)


def zigzag_int(v: int) -> int:
    v = int(v)
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF


def unzigzag_int(u: int) -> int:
    u = int(u)
    res = (u >> 1) ^ -(u & 1)
    # wrap into signed 64-bit
    res &= 0xFFFFFFFFFFFFFFFF
    if res >= 1 << 63:
        res -= 1 << 64
    return res
