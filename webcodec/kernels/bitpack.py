"""Bit-pack kernels, widths 0..64, little-endian bit order.

Reference parity: generated per-width packers in parquet-encoding
(``BytePacker.pack8Values/unpack8Values``, ``ByteBitPackingLE``; SURVEY.md §2.A5).

Like the reference, values move in groups of 8. A group of 8 values at width
``w`` is exactly ``w`` bytes, so value ``8k+j`` starts at byte
``k*w + (j*w >> 3)``, bit ``j*w & 7``. For a fixed lane ``j`` that start byte
advances by a constant ``w`` bytes per group, so a whole lane is ONE strided,
unaligned little-endian uint64 view over the packed bytes, and moves with a
shift and a mask (plus the following word when ``(j*w & 7) + w > 64``). Eight
lanes replace the reference's per-width codegen; numpy is the SIMD unit
(SURVEY.md §4.2).
"""

from __future__ import annotations

import functools

import numpy as np

_U64 = np.uint64
_LE64 = np.dtype("<u8")  # pins the on-disk byte order on any host


def bit_length(values: np.ndarray) -> np.ndarray:
    """Exact per-element bit length of uint64 values, vectorized (branchless CLZ)."""
    v = values.astype(_U64, copy=True)
    bl = np.zeros(v.shape, dtype=np.uint8)
    for shift in (32, 16, 8, 4, 2, 1):
        s = _U64(shift)
        mask = (v >> s) > 0
        bl[mask] += np.uint8(shift)
        v[mask] >>= s
    bl[v > 0] += np.uint8(1)
    return bl


def max_bit_width(values: np.ndarray) -> int:
    if len(values) == 0:
        return 0
    m = int(values.astype(_U64, copy=False).max())
    return m.bit_length()


@functools.lru_cache(maxsize=None)
def _lane_runs(width: int) -> tuple:
    """The 8 lanes of a width that is not a multiple of 8, as runs of
    adjacent lanes ``(j0, count, byte, shifts, straddle_shift | None)``.

    Lane ``j0+i`` starts ``i*(w >> 3)`` bytes and ``i*(w & 7)`` bits after lane
    ``j0``, a constant step, so consecutive lanes whose bits all sit inside
    the 64-bit word at ``byte + i*(w >> 3)`` form one run: unpack reads a run
    as one ``(groups, count)`` view with strides ``(w, w >> 3)`` and a
    per-column shift. A lane whose bits straddle its word
    (``(j*w & 7) + w > 64``) is a run of its own that also needs the next
    word. Small widths are a single run.
    """
    q, r = divmod(width, 8)
    runs = []
    j = 0
    while j < 8:
        b, s = divmod(j * width, 8)
        if s + width > 64:
            runs.append((j, 1, b, np.array([s], _U64), _U64(64 - s)))
            j += 1
            continue
        n = 1
        while j + n < 8 and s + n * r + width <= 64:
            n += 1
        runs.append((j, n, b, (s + r * np.arange(n)).astype(_U64), None))
        j += n
    return q, tuple(runs), _U64((1 << width) - 1)


def pack(values: np.ndarray, width: int) -> bytes:
    """Pack unsigned ints at ``width`` bits each, LSB-first; bits above
    ``width`` are dropped. Total bits are padded to a byte boundary with zeros.

    The values are laid out as ``(groups, 8)`` lanes, zero-padded to a whole
    group. Each lane is shifted into place and ORed into the strided view of
    its word in every group (see :func:`_lane_runs`); a lane that straddles
    its word also ORs its top bits into the next word. The lanes are written
    one after another because their words overlap. Byte-aligned widths are a
    plain byte copy.
    """
    n = len(values)
    if width == 0 or n == 0:
        return b""
    if width > 64:
        raise ValueError(f"width {width} > 64")
    v = np.ascontiguousarray(values.astype(_U64, copy=False), dtype=_LE64)
    nbytes = (width + 7) // 8
    if width == nbytes * 8:
        return v.view(np.uint8).reshape(n, 8)[:, :nbytes].tobytes()
    groups = (n + 7) // 8
    q, runs, mask = _lane_runs(width)
    grid = np.zeros((groups, 8), dtype=_LE64)
    np.bitwise_and(v, mask, out=grid.reshape(-1)[:n])
    # words[:, c] is the unaligned word at byte c of every group. Groups sit
    # at least 8 bytes apart so no word overlaps its own lane's next word
    # (widths below 8 are compacted afterwards); 16 spare bytes keep the last
    # group's words in bounds.
    stride = max(width, 8)
    out = np.zeros(groups * stride + 16, dtype=np.uint8)
    words = np.ndarray((groups, width + 8), dtype=_LE64, buffer=out, strides=(stride, 1))
    tmp = np.empty(groups, dtype=_LE64)
    for j, ln, b, s, hs in runs:
        for i in range(ln):
            np.left_shift(grid[:, j + i], s[i], out=tmp)
            words[:, b + i * q] |= tmp
        if hs is not None:  # a straddling lane is a run of one
            np.right_shift(grid[:, j], hs, out=tmp)
            words[:, b + 8] |= tmp
    need = (n * width + 7) // 8
    if stride > width:
        return out[: groups * stride].reshape(groups, stride)[:, :width].tobytes()[:need]
    return out[:need].tobytes()


def unpack(data: bytes | memoryview | np.ndarray, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns a uint64 array of length n.

    ``data`` is any contiguous byte buffer holding at least
    ``ceil(n*width/8)`` bytes; trailing bytes are ignored and a shorter
    buffer raises ``ValueError``. Each lane (or run of lanes, see
    :func:`_lane_runs`) is one strided uint64 view over the packed bytes, shifted
    right into place; one mask over the output clears the neighbours' bits.
    """
    if width == 0:
        return np.zeros(n, dtype=_U64)
    if n == 0:
        return np.empty(0, dtype=_U64)
    if width > 64:
        raise ValueError(f"width {width} > 64")
    need = (n * width + 7) // 8
    raw = np.frombuffer(data, dtype=np.uint8)
    if len(raw) < need:
        raise ValueError(
            f"bit-packed data has {len(raw)} bytes; {n} values at width {width} need {need}")
    nbytes = (width + 7) // 8
    if width == nbytes * 8:
        out = np.zeros((n, 8), dtype=np.uint8)
        out[:, :nbytes] = raw[: n * nbytes].reshape(n, nbytes)
        return out.reshape(-1).view(_LE64).astype(_U64, copy=False)
    groups = (n + 7) // 8
    # every word read lies below groups*w + 16; whatever a word holds beyond
    # its value's w bits (bytes past ``need`` included) is masked off or
    # lands in the last group's padding lanes, which are sliced off
    if len(raw) < groups * width + 16:
        padded = np.zeros(groups * width + 16, dtype=np.uint8)
        padded[:need] = raw[:need]
        raw = padded
    q, runs, mask = _lane_runs(width)
    out = np.empty((groups, 8), dtype=_U64)
    for j, ln, b, s, hs in runs:
        cols = out[:, j : j + ln]
        word = np.ndarray((groups, ln), dtype=_LE64, buffer=raw, offset=b, strides=(width, q))
        np.right_shift(word, s, out=cols)
        if hs is not None:
            word = np.ndarray((groups, 1), dtype=_LE64, buffer=raw, offset=b + 8, strides=(width, q))
            cols |= word << hs
    out &= mask
    return out.reshape(-1)[:n]


def pack_legacy(values: np.ndarray, width: int) -> bytes:
    """Deprecated parquet BIT_PACKED encoding (SURVEY.md §2.A4): values at
    ``width`` bits each, MSB-FIRST within each value, bits filled from the
    most significant bit of each byte (the opposite bit order of the modern
    RLE-hybrid spans). Spec example (Encodings.md): values 0..7 at width 3
    pack to 00000101 00111001 01110111."""
    n = len(values)
    if width == 0 or n == 0:
        return b""
    v = values.astype(_U64, copy=False)
    shifts = np.arange(width - 1, -1, -1, dtype=_U64)  # MSB first
    bits = ((v[:, None] >> shifts) & _U64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="big").tobytes()


def unpack_legacy(data: bytes | memoryview, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack_legacy` (decode-side parity for legacy files)."""
    if width == 0:
        return np.zeros(n, dtype=_U64)
    if n == 0:
        return np.empty(0, dtype=_U64)
    need = (n * width + 7) // 8
    raw = np.frombuffer(data, dtype=np.uint8, count=need)
    bits = np.unpackbits(raw, bitorder="big")[: n * width].reshape(n, width)
    shifts = np.arange(width - 1, -1, -1, dtype=_U64)
    return (bits.astype(_U64) << shifts).sum(axis=1, dtype=_U64)


def pack_legacy_lsb(values: np.ndarray, width: int) -> bytes:
    """BIT_PACKED with LSB-first bit order — the order Arrow C++/Impala use
    for deprecated BIT_PACKED *levels* (their generic BitReader/BitWriter is
    LSB-first), diverging from the spec's MSB-first prose that parquet-java
    follows. Verified empirically: pyarrow 16 round-trips a hand-crafted
    BIT_PACKED-levels page only in this order. The interop reader matches
    pyarrow since it is the differential reference."""
    n = len(values)
    if width == 0 or n == 0:
        return b""
    v = values.astype(_U64, copy=False)
    shifts = np.arange(width, dtype=_U64)  # LSB first
    bits = ((v[:, None] >> shifts) & _U64(1)).astype(np.uint8)
    return np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def unpack_legacy_lsb(data: bytes | memoryview, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack_legacy_lsb` (level decode parity with pyarrow)."""
    if width == 0:
        return np.zeros(n, dtype=_U64)
    if n == 0:
        return np.empty(0, dtype=_U64)
    need = (n * width + 7) // 8
    raw = np.frombuffer(data, dtype=np.uint8, count=need)
    bits = np.unpackbits(raw, bitorder="little")[: n * width].reshape(n, width)
    shifts = np.arange(width, dtype=_U64)
    return (bits.astype(_U64) << shifts).sum(axis=1, dtype=_U64)


def pack_bools(mask: np.ndarray) -> bytes:
    """Booleans at 1 bit/value LSB-first (reference: BooleanPlainValuesWriter, A2)."""
    if len(mask) == 0:
        return b""
    return np.packbits(mask.astype(np.uint8), bitorder="little").tobytes()


def unpack_bools(data: bytes | memoryview, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=bool)
    raw = np.frombuffer(data, dtype=np.uint8, count=(n + 7) // 8)
    return np.unpackbits(raw, bitorder="little")[:n].astype(bool)
