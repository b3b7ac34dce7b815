"""DELTA_BYTE_ARRAY — incremental (shared-prefix) string encoding.

Reference parity (SURVEY.md §2.A10): parquet-java ``DeltaByteArrayWriter``
(prefix lengths -> DELTA_BINARY_PACKED, suffixes -> DELTA_LENGTH_BYTE_ARRAY).
Big win on sorted URLs — our encode pipeline sorts within partitions by url
first (SURVEY.md §4.1 'sort-based encode win').

Vectorization notes:
- Encode: adjacent common-prefix lengths by word compares on the pairs
  still equal. Round k XORs the unaligned little-endian u64 at byte k of
  value i-1 and of value i (a strided ``<u8`` view over a zero-padded
  copy); the lowest set byte of the XOR is the first differing byte, and a
  pair drops out once its words differ or k reaches the shorter length.
  Pairs still equal after 512 bytes (or the last 8) finish with one slice
  compare each, so a long shared prefix costs one memory pass, not a round
  per 8 bytes. The suffixes are the data bytes under a mask built with one
  ``np.repeat`` of (prefix, suffix) run lengths. ``prefix_lengths`` also
  serves the parquet exporter and the selector's ``prefix_ratio``.
- Decode (``join``, shared with the parquet reader): the naive
  reconstruction is sequential (each value references the previous); we
  instead resolve per byte-COLUMN k: the owner of column k at row i is the
  last j<=i with prefix_len[j] <= k, computed with
  ``np.maximum.accumulate`` — maxlen vectorized passes. Values longer than
  their count (maxlen > n) take the sequential path, which costs n steps.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from webcodec.kernels import delta, deltalength
from webcodec.kernels.varint import read_uvarint, write_uvarint

# Decode guard: the matrix path allocates ~3 O(n * maxlen) temporaries
# (suffix matrix + output + boolean mask); cap the SUM at ~512 MB, i.e. one
# matrix at ~170 MB, and fall back to the sequential path beyond it.
_MATRIX_BYTE_CAP = 512 << 20
_MATRIX_TEMPORARIES = 3
# Pairs still equal are finished with one slice compare each once they
# share this many bytes, or once this few are left: a word round costs a
# pair ~5 ns per byte, a slice compare ~0.5 ns per byte plus ~4 us
_SLICE_FROM = 512
_SLICE_PAIRS = 8


def prefix_lengths(offsets: np.ndarray, data: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Common-prefix length of each value with its predecessor (first = 0)."""
    offs = offsets.astype(np.int64, copy=False)
    n = len(offs) - 1
    out = np.zeros(max(n, 0), dtype=np.int64)
    if n <= 1:
        return out
    lo, hi = int(offs[0]), int(offs[-1])
    # zero-padded copy: the word at any byte of a value stays in bounds
    buf = np.zeros(hi - lo + 8, dtype=np.uint8)
    buf[: hi - lo] = np.frombuffer(data, dtype=np.uint8, count=hi)[lo:]
    words = np.ndarray((hi - lo + 1,), dtype="<u8", buffer=buf, strides=(1,))
    pair = np.arange(1, n)  # value i against value i - 1
    a, b = offs[:-2] - lo, offs[1:-1] - lo
    lens = np.diff(offs)
    lim = np.minimum(lens[:-1], lens[1:])
    k = 0
    # every pair left shares its first k bytes, and lim > k once k > 0
    while len(pair) > _SLICE_PAIRS and k < _SLICE_FROM:
        x = (words[a + k] ^ words[b + k]).astype("<u8", copy=False)
        done = (x != 0) | (lim <= k + 8)
        # the lowest set byte of the XOR is the first differing byte; the
        # bytes a word reads past lim (next value, padding) are cut by lim
        xd = x[done]
        first = (xd.view(np.uint8).reshape(-1, 8) != 0).argmax(axis=1)
        out[pair[done]] = np.minimum(k + np.where(xd != 0, first, 8), lim[done])
        keep = ~done
        pair, a, b, lim = pair[keep], a[keep], b[keep], lim[keep]
        k += 8
    for i, ai, bi, m in zip(pair.tolist(), a.tolist(), b.tolist(), lim.tolist()):
        ne = buf[ai + k : ai + m] != buf[bi + k : bi + m]
        out[i] = k + int(ne.argmax()) if ne.any() else m
    return out


def split(offsets: np.ndarray, data: bytes | memoryview | np.ndarray
          ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """DELTA_BYTE_ARRAY's streams before framing: (prefix lengths, suffix
    lengths, suffix bytes) of Arrow offsets + data."""
    offs = offsets.astype(np.int64, copy=False)
    n = len(offs) - 1
    p = prefix_lengths(offs, data)
    slens = np.diff(offs) - p
    raw = np.frombuffer(data, dtype=np.uint8, count=int(offs[-1]))[int(offs[0]):]
    # value i's bytes are p[i] prefix bytes, then slens[i] suffix bytes
    runs = np.empty(2 * n, dtype=np.int64)
    runs[0::2], runs[1::2] = p, slens
    keep = np.repeat(np.tile(np.array([False, True]), n), runs)
    return p, slens, raw[keep]


def encode(offsets: np.ndarray, data: bytes | memoryview) -> bytes:
    p, slens, suffix = split(offsets, data)
    enc_p = delta.encode(p)
    enc_sl = delta.encode(slens)
    return (
        write_uvarint(len(p))
        + write_uvarint(len(enc_p))
        + enc_p
        + write_uvarint(len(enc_sl))
        + enc_sl
        + suffix.tobytes()
    )


def decode(data: bytes | memoryview, n: int, arrow_type: pa.DataType | None = None) -> pa.Array:
    buf = memoryview(data)
    n_stored, pos = read_uvarint(buf, 0)
    if n_stored != n:
        raise ValueError(f"prefix stream count {n_stored} != expected {n}")
    lp, pos = read_uvarint(buf, pos)
    p = delta.decode(buf[pos : pos + lp], n) if n else np.empty(0, np.int64)
    pos += lp
    lsl, pos = read_uvarint(buf, pos)
    slens = delta.decode(buf[pos : pos + lsl], n) if n else np.empty(0, np.int64)
    pos += lsl
    total = deltalength.checked_total(slens, len(buf) - pos) if n else 0
    suffix = np.frombuffer(buf[pos:], dtype=np.uint8, count=total)
    return join(p, slens, suffix, arrow_type)


def join(p: np.ndarray, slens: np.ndarray, suffix: np.ndarray,
         arrow_type: pa.DataType | None = None) -> pa.Array:
    """Inverse of :func:`split`: value i is value i-1's first ``p[i]`` bytes
    followed by its ``slens[i]`` bytes of ``suffix`` (the lengths already
    checked against ``suffix``). Raises ``ValueError`` for prefix lengths no
    valid page holds."""
    n = len(p)
    if n == 0:
        return deltalength.from_parts(np.empty(0, np.int64), b"", 0, arrow_type)
    total = len(suffix)
    # p[0] = 0 and no p[i] past the previous value (p[i] <= total keeps the
    # sums exact)
    if p[0] != 0 or int(p.min()) < 0 or int(p.max()) > total:
        raise ValueError("DELTA_BYTE_ARRAY prefix lengths out of range: page corrupt")
    out_lens = p + slens
    if (p[1:] > out_lens[:-1]).any():
        raise ValueError("DELTA_BYTE_ARRAY prefix longer than the previous value: page corrupt")
    maxlen = int(out_lens.max())
    # the matrix path takes maxlen Python steps, the sequential one n
    if maxlen > n or maxlen * n * _MATRIX_TEMPORARIES > _MATRIX_BYTE_CAP:
        return _decode_sequential(p, slens, suffix, n, arrow_type)
    # suffix byte matrix: row i holds suffix bytes at columns [p_i, p_i + slen_i)
    smat = np.zeros((n, max(maxlen, 1)), dtype=np.uint8)
    if len(suffix):
        owner = np.repeat(np.arange(n, dtype=np.int64), slens)
        sstart = np.zeros(n, dtype=np.int64)
        np.cumsum(slens[:-1], out=sstart[1:])
        within = np.arange(len(suffix), dtype=np.int64) - sstart[owner]
        smat[owner, p[owner] + within] = suffix
    out = np.zeros((n, max(maxlen, 1)), dtype=np.uint8)
    idx = np.arange(n, dtype=np.int64)
    for k in range(maxlen):
        # owner of column k at row i = last j <= i whose own suffix covers column k
        own = np.maximum.accumulate(np.where(p <= k, idx, -1))
        out[:, k] = smat[own, k]
    flat_mask = np.arange(max(maxlen, 1))[None, :] < out_lens[:, None]
    payload = out[flat_mask].tobytes()
    return deltalength.from_parts(out_lens, payload, n, arrow_type)


def _decode_sequential(p, slens, suffix, n, arrow_type):
    """One step per value: values longer than their count, or too wide for
    the matrix."""
    sstart = np.zeros(n, dtype=np.int64)
    np.cumsum(slens[:-1], out=sstart[1:])
    vals: list[bytes] = []
    prev = b""
    sfx = suffix.tobytes()
    for i in range(n):
        cur = prev[: int(p[i])] + sfx[int(sstart[i]) : int(sstart[i] + slens[i])]
        vals.append(cur)
        prev = cur
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
    return deltalength.from_parts(lens, b"".join(vals), n, arrow_type)
