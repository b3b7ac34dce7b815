"""RLE / bit-packing hybrid encoder-decoder.

Reference parity (SURVEY.md §2.A3): parquet-java
``RunLengthBitPackingHybridEncoder`` — runs of >= 8 equal values become RLE runs
(``writeRleRun``: LEB128 header ``count<<1`` + value in ceil(width/8) LE bytes);
everything else is bit-packed (``writeOrAppendBitPackedRun``).

One deliberate deviation from the parquet byte stream (allowed — SURVEY.md §7.0:
bit-identical *decode output* is the contract, not byte-identical files): our
bit-packed header stores the exact VALUE count (``count<<1 | 1``) rather than
the group-of-8 count, so mid-stream spans need no 8-value alignment. Run
detection is vectorized (``np.diff``), with one python iteration per *span*.

The bit-pack kernel (:mod:`webcodec.kernels.bitpack`) has a fixed cost of tens
of microseconds per call, and nested or sparse columns produce thousands of
spans of a dozen values each. So every stream makes ONE kernel call: a span's
packed bytes are exactly the prefix of its values packed in whole 8-value
groups (``w`` bytes per group, zero-padded), so the encoder packs all spans
laid end to end in groups and slices each span's bytes back out, and the
decoders copy every span's bytes into that layout, unpack it once and slice
the values back out.
"""

from __future__ import annotations

import numpy as np

from webcodec.kernels import bitpack
from webcodec.kernels.varint import read_uvarint, write_uvarint

_MIN_RLE_RUN = 8  # reference: repeatCount >= 8 triggers writeRleRun


def run_lengths(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_starts, run_lens) of maximal equal-value runs, vectorized."""
    n = len(values)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    change = np.flatnonzero(values[1:] != values[:-1]) + 1
    starts = np.concatenate(([0], change))
    lens = np.diff(np.concatenate((starts, [n])))
    return starts, lens


def mean_run_length(values: np.ndarray) -> float:
    n = len(values)
    if n == 0:
        return 0.0
    _, lens = run_lengths(values)
    return n / len(lens)


def _value_bytes(value: int, width: int) -> bytes:
    nbytes = (width + 7) // 8
    return int(value).to_bytes(nbytes, "little")


def encode(values: np.ndarray, width: int) -> bytes:
    """Hybrid-encode unsigned ints (< 2**width)."""
    n = len(values)
    if n == 0:
        return b""
    v = values.astype(np.uint64, copy=False)
    if width == 0:
        # all values are zero; single RLE run carries everything
        return write_uvarint(n << 1)
    starts, lens = run_lengths(v)
    # width-adaptive run cutoff: an RLE run saves ceil(L*w/8) packed bytes
    # but costs a ~2B varint header + ceil(w/8) value bytes + ~2B for the
    # extra bit-packed span header it splits off — at small widths short
    # runs LOSE bytes and fragment the stream into many tiny spans.
    # Break-even: L > 32/w + 1.
    min_run = max(_MIN_RLE_RUN, 32 // width + 2)
    big = np.flatnonzero(lens >= min_run)
    run_s, run_n = starts[big], lens[big]
    # gap i (possibly empty) precedes long run i; the last gap ends the stream
    gap_s = np.concatenate(([0], run_s + run_n))
    gap_n = np.concatenate((run_s, [n])) - gap_s
    gap_g = np.concatenate(([0], np.cumsum((gap_n + 7) // 8)))
    gaps = list(zip(gap_s.tolist(), gap_n.tolist(), gap_g.tolist()))
    layout = np.zeros(int(gap_g[-1]) * 8, dtype=np.uint64)
    for s, c, g in gaps:
        layout[g * 8 : g * 8 + c] = v[s : s + c]
    packed = bitpack.pack(layout, width)
    runs = list(zip(run_n.tolist(), v[run_s].tolist()))
    out: list[bytes] = []
    for i, (s, c, g) in enumerate(gaps):
        if c:  # bit-packed span: the first ceil(c*w/8) bytes of its groups
            out.append(write_uvarint((c << 1) | 1))
            out.append(packed[g * width : g * width + (c * width + 7) // 8])
        if i < len(runs):
            ln, value = runs[i]
            out.append(write_uvarint(ln << 1))
            out.append(_value_bytes(value, width))
    return b"".join(out)


def _decode(data: bytes | memoryview, width: int, n: int, spec: bool) -> np.ndarray:
    """Shared body of :func:`decode` and :func:`decode_spec`. A ``spec``
    bit-packed header counts 8-value groups, and its last span may overrun
    ``n``; otherwise it counts values. Every span and run value is checked
    against the buffer end, so a truncated stream raises ``ValueError``."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if not 0 <= width <= 64:
        raise ValueError(f"RLE bit width {width} outside 0..64")
    buf = memoryview(data)
    end = buf.nbytes
    vbytes = (width + 7) // 8
    layout = bytearray()  # kept bit-packed values, each span in whole groups of w bytes
    groups = 0
    spans: list[tuple[int, int | None, int]] = []  # (count, RLE value | None, first group)
    pos = 0
    remaining = n
    while remaining > 0:
        header, pos = read_uvarint(buf, pos)
        count = header >> 1
        if header & 1:
            if spec:
                count *= 8
            nb = (count * width + 7) // 8
            if pos + nb > end:
                raise ValueError(f"RLE stream truncated: bit-packed span of {count} values "
                                 f"at byte {pos} needs {nb} bytes, {end - pos} remain")
            if count > remaining and not spec:
                raise ValueError(f"RLE stream holds more than the expected {n} values")
            count = min(count, remaining)
            used = (count + 7) // 8  # groups holding the values kept
            cp = min(nb, used * width)
            layout += buf[pos : pos + cp]
            layout += bytes(used * width - cp)
            spans.append((count, None, groups))
            groups += used
            pos += nb
        else:
            if count > remaining:
                raise ValueError(f"RLE stream holds more than the expected {n} values")
            if pos + vbytes > end:
                raise ValueError(f"RLE stream truncated: run value at byte {pos} needs "
                                 f"{vbytes} bytes, {end - pos} remain")
            spans.append((count, int.from_bytes(buf[pos : pos + vbytes], "little"), 0))
            pos += vbytes
        remaining -= count
    packed = bitpack.unpack(layout, width, groups * 8)
    if len(spans) == 1 and spans[0][1] is None:
        return packed[:n]
    out = np.empty(n, dtype=np.uint64)
    o = 0
    for count, value, g in spans:
        out[o : o + count] = packed[g * 8 : g * 8 + count] if value is None else value
        o += count
    return out


def decode(data: bytes | memoryview, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`encode`; returns uint64 array of length n."""
    return _decode(data, width, n, spec=False)


def decode_spec(data: bytes | memoryview, width: int, n: int) -> np.ndarray:
    """Decode a SPEC-CONFORMANT parquet RLE/bit-packed hybrid stream (the
    byte format parquet-java/arrow-cpp write): bit-packed headers carry the
    count of 8-VALUE GROUPS (``groups << 1 | 1``), so a span always encodes
    groups*8 values and the final span may overrun ``n`` (trimmed here).
    Used by the parquet interop reader to prove kernel-level format parity
    against reference-written files (SURVEY.md §7.2 differential test)."""
    return _decode(data, width, n, spec=True)


# -- validity bitmap (definition-level analogue for flat schemas) -------------


def encode_validity(mask: np.ndarray) -> bytes:
    """Encode a boolean validity mask as a width-1 hybrid stream.

    Flat-schema def levels: 1 = present, 0 = null (SURVEY.md §1.2 —
    'def level degenerates to a null bitmap').
    """
    return encode(mask.astype(np.uint64, copy=False), 1)


def decode_validity(data: bytes | memoryview, n: int) -> np.ndarray:
    return decode(data, 1, n).astype(bool)
