"""Vectorized XXH64 (seed 0) — the hash parquet's split-block bloom filters
REQUIRE (parquet-format BloomFilter.md: "XXH64 ... following its canonical
specification"). Implemented from the public xxHash specification
(github.com/Cyan4973/xxHash, XXH64 with seed=0); pinned against the
published reference vectors and a scalar re-implementation.

``xxh64_values(offsets, data)`` hashes m variable-length byte strings in
vectorized numpy passes over all values at once — one per 32-byte stripe
while more than a few values still have one, plus a fixed tail phase — which
is what the encode path needs when it blooms a chunk's distinct values.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _P2, 31) * _P1


# lanes left at which the stripe loop hands over to Python-int rounds: one
# numpy pass costs ~15 us whatever its width, a scalar stripe ~2 us
_SCALAR_LANES = 4


def _stripes_scalar(acc: np.ndarray, data: np.ndarray, start: int, count: int) -> np.ndarray:
    """One lane's accumulators after ``count`` more stripes from ``start``."""
    P1, P2 = int(_P1), int(_P2)
    v1, v2, v3, v4 = acc.tolist()
    words = iter(np.ascontiguousarray(data[start : start + 32 * count]).view("<u8").tolist())
    for a, b, c, d in zip(words, words, words, words):
        x = (v1 + a * P2) & _M64
        v1 = (((x << 31) | (x >> 33)) & _M64) * P1 & _M64
        x = (v2 + b * P2) & _M64
        v2 = (((x << 31) | (x >> 33)) & _M64) * P1 & _M64
        x = (v3 + c * P2) & _M64
        v3 = (((x << 31) | (x >> 33)) & _M64) * P1 & _M64
        x = (v4 + d * P2) & _M64
        v4 = (((x << 31) | (x >> 33)) & _M64) * P1 & _M64
    return np.array([v1, v2, v3, v4], dtype=np.uint64)


def xxh64_values(offsets: np.ndarray, data: np.ndarray) -> np.ndarray:
    """XXH64(seed=0) of each value ``data[offsets[i]:offsets[i+1]]``.

    Vectorized: the 32-byte stripe loop's iteration k runs over only the
    values that have a stripe k, until at most ``_SCALAR_LANES`` are left;
    those finish their stripes in Python ints. The <32-byte tail phase runs
    3+1+3 passes, each over only the values it applies to. Every word is
    read through an unaligned ``<u8``/``<u4`` view. Returns uint64[m]."""
    with np.errstate(over="ignore"):
        return _xxh64_impl(offsets, data)


def _xxh64_impl(offsets: np.ndarray, data: np.ndarray) -> np.ndarray:
    offsets = np.asarray(offsets, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if data.size < 8:
        # the word views below need 8 bytes (padding is never part of any
        # value)
        data = np.concatenate([data, np.zeros(8 - data.size, np.uint8)])
    # the little-endian u64 / u32 starting at every byte (unaligned views)
    u64 = np.ndarray((data.size - 7,), dtype="<u8", buffer=data, strides=(1,))
    u32 = np.ndarray((data.size - 3,), dtype="<u4", buffer=data, strides=(1,))
    starts = offsets[:-1]
    lens = np.diff(offsets)
    m = len(lens)
    n64 = lens.astype(np.uint64)

    long = lens >= 32
    h = np.empty(m, dtype=np.uint64)
    # short seed: seed + P5 + n
    h[~long] = _P5 + n64[~long]

    if long.any():
        # lanes by stripe count, most first: the lanes that still have a
        # stripe k are a prefix, so the loop's work is the total stripe
        # count, not lanes x the longest value
        li = np.flatnonzero(long)
        stripes = lens[li] // 32
        order = np.argsort(-stripes, kind="stable")
        li, stripes = li[order], stripes[order]
        ls = starts[li]
        acc = np.tile(np.array([_P1 + _P2, _P2, 0, (-int(_P1)) & _M64],
                               dtype=np.uint64), (len(li), 1))
        # active[k]: lanes with more than k stripes
        active = np.searchsorted(-stripes, -np.arange(int(stripes[0])), side="left")
        word = np.arange(0, 32, 8, dtype=np.int64)  # a stripe's 4 words
        for k, c in enumerate(active.tolist()):
            if c <= _SCALAR_LANES:
                for j in range(c):
                    acc[j] = _stripes_scalar(acc[j], data, int(ls[j]) + 32 * k, int(stripes[j]) - k)
                break
            acc[:c] = _round(acc[:c], u64[(ls[:c] + 32 * k)[:, None] + word])
        v1, v2, v3, v4 = acc.T
        hl = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):  # merge rounds
            hl = (hl ^ _round(np.zeros_like(v), v)) * _P1 + _P4
        h[li] = hl + n64[li]

    # tail phase: bytes past the last full stripe (everything for short
    # values). r < 32, so at most three u64 words + one u32 + three bytes.
    tail_base = np.where(long, starts + (lens // 32) * 32, starts)
    r = np.where(long, lens % 32, lens)
    t8 = r // 8
    rem = r % 8
    has4 = rem >= 4
    t1 = rem - 4 * has4
    # each pass runs over only the lanes it applies to
    for w in range(3):
        i = np.flatnonzero(t8 > w)
        k1 = _round(np.zeros(len(i), dtype=np.uint64), u64[tail_base[i] + 8 * w])
        h[i] = _rotl(h[i] ^ k1, 27) * _P1 + _P4
    i = np.flatnonzero(has4)
    k4 = u32[tail_base[i] + 8 * t8[i]].astype(np.uint64)
    h[i] = _rotl(h[i] ^ (k4 * _P1), 23) * _P2 + _P3
    byte_base = tail_base + 8 * t8 + 4 * has4
    for b in range(3):
        i = np.flatnonzero(t1 > b)
        kb = data[byte_base[i] + b].astype(np.uint64)
        h[i] = _rotl(h[i] ^ (kb * _P5), 11) * _P1

    # avalanche
    h ^= h >> np.uint64(33)
    h *= _P2
    h ^= h >> np.uint64(29)
    h *= _P3
    h ^= h >> np.uint64(32)
    return h


def xxh64_scalar(value: bytes, seed: int = 0) -> int:
    """Straight-line scalar XXH64 — the differential reference for the
    vectorized kernel (and usable for single probes)."""
    P1, P2, P3, P4, P5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _M64

    def rnd(acc, lane):
        return (rotl((acc + lane * P2) & _M64, 31) * P1) & _M64

    n = len(value)
    pos = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M64
        v2 = (seed + P2) & _M64
        v3 = seed & _M64
        v4 = (seed - P1) & _M64
        while pos + 32 <= n:
            v1 = rnd(v1, int.from_bytes(value[pos:pos + 8], "little"))
            v2 = rnd(v2, int.from_bytes(value[pos + 8:pos + 16], "little"))
            v3 = rnd(v3, int.from_bytes(value[pos + 16:pos + 24], "little"))
            v4 = rnd(v4, int.from_bytes(value[pos + 24:pos + 32], "little"))
            pos += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ rnd(0, v)) * P1 + P4) & _M64
    else:
        h = (seed + P5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        k1 = rnd(0, int.from_bytes(value[pos:pos + 8], "little"))
        h = (rotl(h ^ k1, 27) * P1 + P4) & _M64
        pos += 8
    if pos + 4 <= n:
        k = int.from_bytes(value[pos:pos + 4], "little")
        h = (rotl(h ^ (k * P1) & _M64, 23) * P2 + P3) & _M64
        pos += 4
    while pos < n:
        h = (rotl(h ^ (value[pos] * P5) & _M64, 11) * P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * P2) & _M64
    h ^= h >> 29
    h = (h * P3) & _M64
    h ^= h >> 32
    return h
