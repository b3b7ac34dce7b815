"""DELTA_BINARY_PACKED — frame-of-reference + delta + per-miniblock bit-packing.

Reference parity (SURVEY.md §2.A8): parquet-java
``DeltaBinaryPackingValuesWriter`` — block of 128 values, 4 miniblocks x 32;
header = block_size, miniblock_count, total_count, first_value (zigzag varint);
per block: min-delta (zigzag varint, the frame of reference) + per-miniblock
bit widths + bit-packed (delta - minDelta).

Fully vectorized: deltas via ``np.diff`` (wrapping int64), per-miniblock widths
via branchless CLZ, packing grouped BY WIDTH so each distinct width is one
vectorized pack over all miniblocks that use it (<= 65 iterations regardless of n).
Decode reverses with a wrapping uint64 ``cumsum``.
"""

from __future__ import annotations

import numpy as np

from webcodec.kernels import bitpack
from webcodec.kernels.varint import (
    read_uvarint,
    unzigzag64,
    unzigzag_int,
    write_uvarint,
    zigzag_int,
)

BLOCK = 128
MINIBLOCKS = 4
MB_VALUES = BLOCK // MINIBLOCKS  # 32

_U64 = np.uint64
_I64 = np.int64


def encode(values: np.ndarray) -> bytes:
    """Encode an int64 (or any int, upcast) array."""
    v = values.astype(_I64, copy=False)
    n = len(v)
    header = (
        write_uvarint(BLOCK)
        + write_uvarint(MINIBLOCKS)
        + write_uvarint(n)
        + write_uvarint(zigzag_int(int(v[0]) if n else 0))
    )
    if n <= 1:
        return header
    with np.errstate(over="ignore"):
        deltas = (v[1:].astype(_U64) - v[:-1].astype(_U64)).view(_I64)  # wrapping diff
    nd = len(deltas)
    nblocks = (nd + BLOCK - 1) // BLOCK
    pad = nblocks * BLOCK - nd
    # per-block min over REAL deltas (sentinel +inf for padding)
    padded = np.concatenate((deltas, np.full(pad, np.iinfo(_I64).max, dtype=_I64)))
    blocks = padded.reshape(nblocks, BLOCK)
    min_delta = blocks.min(axis=1)  # int64 per block
    # encoded = delta - min_delta in wrapping uint64; padding encodes as 0
    enc = (blocks.astype(_U64) - min_delta[:, None].astype(_U64)).astype(_U64)
    enc.reshape(-1)[nd:] = 0
    mbs = enc.reshape(nblocks * MINIBLOCKS, MB_VALUES)
    mb_max = mbs.max(axis=1)
    widths = bitpack.bit_length(mb_max)  # uint8, (nblocks*4,)

    # ---- fully vectorized stream assembly (no per-block python loop) ----
    # zigzag varints for per-block min_delta, emitted as a masked (nblocks,
    # 10) byte matrix; payload laid out by computed offsets and written with
    # one fancy-index scatter per distinct width (mirrors decode's gather)
    zz = ((min_delta.astype(_U64) << _U64(1))
          ^ (min_delta >> np.int64(63)).astype(_U64))
    vlen = np.maximum((bitpack.bit_length(zz).astype(np.int64) + 6) // 7, 1)
    vmax = int(vlen.max())
    vbytes = np.zeros((nblocks, vmax), dtype=np.uint8)
    for k in range(vmax):
        live = vlen > k
        vbytes[live, k] = ((zz[live] >> _U64(7 * k)) & _U64(0x7F)).astype(np.uint8)
        cont = vlen > k + 1
        vbytes[cont, k] |= 0x80

    sizes_mb = widths.astype(np.int64) * (MB_VALUES // 8)  # 32*w bits = 4w bytes
    block_payload = vlen + MINIBLOCKS + sizes_mb.reshape(nblocks, MINIBLOCKS).sum(axis=1)
    block_start = len(header) + np.concatenate(
        ([0], np.cumsum(block_payload[:-1]))
    )
    total = len(header) + int(block_payload.sum())
    out = np.empty(total, dtype=np.uint8)
    out[: len(header)] = np.frombuffer(header, dtype=np.uint8)
    # varint scatter (masked)
    vpos = block_start[:, None] + np.arange(vmax)
    mask = np.arange(vmax) < vlen[:, None]
    out[vpos[mask]] = vbytes[mask]
    # width bytes
    wpos = (block_start + vlen)[:, None] + np.arange(MINIBLOCKS)
    out[wpos.reshape(-1)] = widths
    # per-miniblock payload offsets: block body start + exclusive cumsum
    within = np.cumsum(sizes_mb.reshape(nblocks, MINIBLOCKS), axis=1)
    within = np.concatenate(
        (np.zeros((nblocks, 1), dtype=np.int64), within[:, :-1]), axis=1
    )
    mb_dst = ((block_start + vlen + MINIBLOCKS)[:, None] + within).reshape(-1)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        idx = np.flatnonzero(widths == w)
        packed = np.frombuffer(bitpack.pack(mbs[idx].reshape(-1), w), dtype=np.uint8)
        per = MB_VALUES * w // 8
        # row i of this window is the per-byte payload starting at byte i
        window = np.ndarray((total - per + 1, per), dtype=np.uint8, buffer=out, strides=(1, 1))
        window[mb_dst[idx]] = packed.reshape(len(idx), per)
    return out.tobytes()


def decode(data: bytes | memoryview, n_hint: int | None = None) -> np.ndarray:
    """Decode to int64. ``n_hint`` is checked against the stored count."""
    return decode_stream(data, n_hint)[0]


def decode_stream(
    data: bytes | memoryview, n_hint: int | None = None
) -> tuple[np.ndarray, int]:
    """Decode a self-delimiting delta stream; also return the byte offset
    one past its end — needed when the stream is a PREFIX of a larger
    payload (parquet DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY pages put
    the value bytes right after the length stream)."""
    buf = memoryview(data)
    pos = 0
    block, pos = read_uvarint(buf, pos)
    mbcount, pos = read_uvarint(buf, pos)
    n, pos = read_uvarint(buf, pos)
    zz_first, pos = read_uvarint(buf, pos)
    first = unzigzag_int(zz_first)
    if n_hint is not None and n_hint != n:
        raise ValueError(f"delta stream count {n} != expected {n_hint}")
    if n == 0:
        return np.empty(0, dtype=_I64), pos
    if n == 1:
        return np.array([first], dtype=_I64), pos
    mb_values = block // mbcount if mbcount else 0
    if mb_values == 0 or mb_values * mbcount != block or mb_values % 8:
        raise ValueError(f"delta stream: block of {block} values in {mbcount} miniblocks "
                         "is not a whole number of 8-value groups per miniblock")
    nd = n - 1
    nblocks = (nd + block - 1) // block
    # every block holds at least a min-delta byte and its width bytes
    if nblocks * (1 + mbcount) > len(buf) - pos:
        raise ValueError(f"delta stream truncated: {n} values need {nblocks} blocks, "
                         f"{len(buf) - pos} bytes remain")
    # spec: trailing miniblocks of the last block that hold no values have
    # their width byte present but NO payload, and readers must tolerate a
    # nonzero byte there — they are left out of the walk and clamped to zero
    needed_mb = (nd + mb_values - 1) // mb_values
    zigzag_mins = []
    wpos = []
    # pass 1 — walk the stream once, one python step per BLOCK: the varint
    # min-delta forces sequential parsing, and a block's payload length is
    # mb_values * (sum of its widths) / 8 (mb_values is a multiple of 8).
    # Only the last block can have trailing empty miniblocks.
    live = [mbcount] * (nblocks - 1) + [needed_mb - (nblocks - 1) * mbcount]
    for lv in live:
        zz, pos = read_uvarint(buf, pos)
        zigzag_mins.append(zz)
        wpos.append(pos)
        pos += mbcount + ((mb_values * sum(buf[pos : pos + lv])) >> 3)
    if pos > len(buf):
        raise ValueError(f"delta stream truncated: payload ends at byte {pos}, "
                         f"buffer has {len(buf)}")
    allbytes = np.frombuffer(buf, dtype=np.uint8)
    wstart = np.array(wpos, dtype=np.int64)
    widths = allbytes[wstart[:, None] + np.arange(mbcount)].reshape(-1)
    widths[needed_mb:] = 0
    # miniblock payload offsets: one exclusive cumsum per block
    sizes = (widths.astype(np.int64) * mb_values // 8).reshape(nblocks, mbcount)
    mb_off = ((wstart + mbcount)[:, None] + np.cumsum(sizes, axis=1) - sizes).reshape(-1)
    nmb = nblocks * mbcount
    # pass 2 — decode grouped BY WIDTH (mirror of encode): one row gather
    # + ONE bulk unpack per distinct width instead of a kernel call per
    # miniblock — 4700-block chunks drop from ~19k unpack calls to <=65
    enc = np.empty((nmb, mb_values), dtype=_U64)
    for w in np.unique(widths):
        w = int(w)
        idx = np.flatnonzero(widths == w)
        if w == 0:
            enc[idx] = 0
            continue
        per = mb_values * w // 8
        # row i of this window is the per-byte payload starting at byte i
        window = np.ndarray((len(allbytes) - per + 1, per), dtype=np.uint8,
                            buffer=allbytes, strides=(1, 1))
        gathered = window[mb_off[idx]]
        vals = bitpack.unpack(gathered.reshape(-1), w, len(idx) * mb_values)
        enc[idx] = vals.reshape(len(idx), mb_values)
    mins = unzigzag64(np.array(zigzag_mins, dtype=_U64))
    deltas = enc.reshape(-1) + np.repeat(mins.astype(_U64), block)
    out = np.empty(n, dtype=_U64)
    out[0] = np.int64(first).astype(_U64)
    np.cumsum(deltas[:nd], out=out[1:])  # wrapping uint64 cumsum
    out[1:] += out[0]
    return out.view(_I64), pos
