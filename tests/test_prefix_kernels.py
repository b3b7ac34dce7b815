"""DELTA_BYTE_ARRAY kernels against frozen references, and hostile pages.

The frozen copies below are the earlier implementations: the prefix kernel
that compared two padded (n, maxlen) byte matrices, the selector's capped
matrix approximation and the index-gather suffix split. The fuzz family
draws seeded inputs and asserts that today's word-compare kernel, the
selector statistic and the encoded bytes are the same.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from webcodec.kernels import delta, deltalength, prefix
from webcodec.kernels.varint import write_uvarint
from webcodec.stats import _approx_prefix_lengths

# -- frozen references ---------------------------------------------------------


def _frozen_byte_matrix(offsets, data, maxlen, fill):
    n = len(offsets) - 1
    lens = np.diff(offsets)
    mat = np.full((n, maxlen), fill, dtype=np.uint8)
    if int(lens.sum()):
        owner = np.repeat(np.arange(n, dtype=np.int64), lens)
        within = np.arange(int(offsets[0]), int(offsets[-1]), dtype=np.int64) - offsets[:-1][owner]
        mat[owner, within] = data[int(offsets[0]) : int(offsets[-1])]
    return mat


def _frozen_prefix_lengths(offsets, data):
    offs = offsets.astype(np.int64, copy=False)
    n = len(offs) - 1
    if n <= 1:
        return np.zeros(n, dtype=np.int64)
    lens = np.diff(offs)
    maxlen = int(lens.max())
    if maxlen == 0:
        return np.zeros(n, dtype=np.int64)
    raw = np.frombuffer(data, dtype=np.uint8, count=int(offs[-1]))
    a = _frozen_byte_matrix(offs, raw, maxlen, 0xFE)
    b = _frozen_byte_matrix(offs, raw, maxlen, 0xFD)
    eq = a[:-1] == b[1:]
    p = np.where(eq.all(axis=1), maxlen, eq.argmin(axis=1)).astype(np.int64)
    p = np.minimum(p, np.minimum(lens[:-1], lens[1:]))
    return np.concatenate(([0], p))


def _frozen_approx_prefix_lengths(offsets, data, cap=64):
    n = len(offsets) - 1
    if n <= 1:
        return np.zeros(max(n, 0), dtype=np.int64)
    lens = np.diff(offsets)
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)
    w = int(min(max(lens.max(), 1), cap))
    col = np.arange(w, dtype=np.int64)
    valid = col[None, :] < lens[:, None]
    take = np.where(valid, offsets[:-1, None] + col[None, :], 0)
    mat = data[take]
    mat[~valid] = 0xFE
    b = mat.copy()
    b[~valid] = 0xFD
    eq = mat[:-1] == b[1:]
    p = np.where(eq.all(axis=1), w, eq.argmin(axis=1)).astype(np.int64)
    p = np.minimum(p, np.minimum(lens[:-1], lens[1:]))
    return np.concatenate(([0], p))


def _frozen_encode(offs, data):
    n = len(offs) - 1
    p = _frozen_prefix_lengths(offs, data)
    slens = np.diff(offs) - p
    raw = np.frombuffer(data, dtype=np.uint8, count=int(offs[-1]))
    total = int(slens.sum())
    suffix = np.empty(total, dtype=np.uint8)
    if total:
        owner = np.repeat(np.arange(n, dtype=np.int64), slens)
        sstart = np.zeros(n, dtype=np.int64)
        np.cumsum(slens[:-1], out=sstart[1:])
        within = np.arange(total, dtype=np.int64) - sstart[owner]
        suffix = raw[offs[:-1][owner] + p[owner] + within]
    enc_p, enc_sl = delta.encode(p), delta.encode(slens)
    return (write_uvarint(n) + write_uvarint(len(enc_p)) + enc_p
            + write_uvarint(len(enc_sl)) + enc_sl + suffix.tobytes())


# -- seeded inputs -------------------------------------------------------------


def _parts(vals: list[bytes], lead: bytes = b"") -> tuple[np.ndarray, bytes]:
    offs = np.zeros(len(vals) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in vals], out=offs[1:])
    return offs + len(lead), lead + b"".join(vals)


def _values(rng: np.random.Generator) -> list[bytes]:
    """Runs of values that extend, cut or copy their predecessor, over a
    1-256-byte alphabet: 0x00-heavy alphabets put zero bytes next to the
    padding, and cuts at multiples of 8 end prefixes on word boundaries."""
    n = int(rng.choice([0, 1, 2, 3, 9, 10, 50, 300, 2000]))
    k = int(rng.choice([1, 2, 3, 256]))
    alphabet = rng.permutation(256)[:k].astype(np.uint8)
    if rng.random() < 0.3:
        alphabet[0] = 0
    p_empty = float(rng.choice([0.0, 0.05, 1.0]))
    max_len = int(rng.choice([8, 40, 200, 1500]))
    vals: list[bytes] = []
    prev = b""
    for _ in range(n):
        r = rng.random()
        if r < p_empty:
            v = b""
        elif prev and r < 0.7:
            cut = int(rng.integers(0, len(prev) + 1))
            if rng.random() < 0.4:
                cut = min(cut - cut % 8 + 8 * int(rng.integers(0, 2)), len(prev))
            tail = rng.choice(alphabet, int(rng.integers(0, 24))).tobytes()
            v = prev if rng.random() < 0.1 else prev[:cut] + tail
        else:
            v = rng.choice(alphabet, int(rng.integers(0, max_len))).tobytes()
        vals.append(v)
        prev = v
    return vals


@pytest.mark.parametrize("seed", range(16))
def test_prefix_lengths_match_frozen(tmp_path, seed):
    """prefix_lengths equals the frozen matrix kernel on whole and sliced
    buffers (offsets[0] > 0, the last value at the end of the buffer); the
    selector statistic equals the frozen capped matrix; the encoded bytes
    equal the frozen encoder's and decode back exactly."""
    rng = np.random.default_rng(10_000 + seed)
    vals = _values(rng)
    lead = rng.integers(0, 256, int(rng.choice([0, 1, 7, 13])), dtype=np.uint8).tobytes()
    offs, data = _parts(vals, lead)
    want = _frozen_prefix_lengths(offs, data)
    assert np.array_equal(prefix.prefix_lengths(offs, data), want)
    p, slens, suffix = prefix.split(offs, data)
    assert np.array_equal(p, want) and np.array_equal(slens, np.diff(offs) - want)
    z_offs, z_data = _parts(vals)
    raw = np.frombuffer(z_data, dtype=np.uint8)
    assert np.array_equal(_approx_prefix_lengths(z_offs, raw), _frozen_approx_prefix_lengths(z_offs, raw))
    enc = prefix.encode(z_offs, z_data)
    assert enc == _frozen_encode(z_offs, z_data) == prefix.encode(offs, data)
    back = prefix.decode(enc, len(vals), pa.binary())
    back.validate(full=True)
    assert back.to_pylist() == vals


def test_prefix_lengths_edge_shapes():
    cases = [
        [],
        [b"x"],
        [b"", b"", b""],
        [b"\x00" * 8, b"\x00" * 8, b"\x00" * 9, b"\x00" * 7, b""],
        [b"abcdefgh", b"abcdefgh", b"abcdefghi", b"abcdefgX"],
        [b"a" * 16 + b"b", b"a" * 16 + b"c", b"a" * 16],
    ]
    for vals in cases:
        for lead in (b"", b"\x00\x01\x02"):
            offs, data = _parts(vals, lead)
            assert np.array_equal(prefix.prefix_lengths(offs, data), _frozen_prefix_lengths(offs, data))
    offs, data = _parts([b"a" * 16 + b"b", b"a" * 16 + b"c", b"a" * 16])
    assert prefix.prefix_lengths(offs, data).tolist() == [0, 16, 16]


# long shared prefixes: the word rounds hand the pairs still equal to one slice
# compare each, so neither a 1 MiB prefix nor 1,000 64 KiB prefixes take a
# round per 8 bytes


def test_prefix_lengths_two_equal_mib_values():
    big = np.random.default_rng(1).integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
    offs, data = _parts([big, big])
    assert prefix.prefix_lengths(offs, data).tolist() == [0, 1 << 20]


def test_prefix_lengths_thousand_values_share_64k_head():
    head = np.random.default_rng(2).integers(0, 256, 1 << 16, dtype=np.uint8).tobytes()
    tails = [b"%06d" % (7 * i) for i in range(1000)]
    offs, data = _parts([head + t for t in tails])
    want = [0] + [(1 << 16) + next(j for j in range(6) if a[j] != b[j]) for a, b in zip(tails, tails[1:])]
    assert prefix.prefix_lengths(offs, data).tolist() == want


def test_prefix_lengths_short_values_around_two_mib_values():
    big = np.random.default_rng(3).integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
    short = [b"k%05d" % i for i in range(1000)]
    vals = short[:500] + [big, big[:-1] + bytes([big[-1] ^ 1])] + short[500:]
    offs, data = _parts(vals)
    want = [0] + [next((j for j, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
                  for a, b in zip(vals, vals[1:])]
    assert want[501] == (1 << 20) - 1
    assert prefix.prefix_lengths(offs, data).tolist() == want


# long values decode through ``prefix.join``'s sequential path (maxlen > n),
# one step per value instead of one matrix pass per byte column; the parquet
# reader's DELTA_BYTE_ARRAY pages share the kernel


def _decode_both_within_a_second(tmp_path, vals: list[bytes]) -> None:
    import time

    import pyarrow.parquet as pq

    from webcodec import parquet_interop as pi

    blob = prefix.encode(*_parts(vals))
    t0 = time.perf_counter()
    assert prefix.decode(blob, len(vals), pa.binary()).to_pylist() == vals
    assert time.perf_counter() - t0 <= 1.0
    p = str(tmp_path / "dba.parquet")
    pq.write_table(pa.table({"s": pa.array(vals, pa.binary())}), p,
                   use_dictionary=False, compression="none",
                   column_encoding={"s": "DELTA_BYTE_ARRAY"})
    t0 = time.perf_counter()
    assert pi.read_table_arrow_native(p).column("s").to_pylist() == vals
    assert time.perf_counter() - t0 <= 1.0


def test_decode_two_equal_mib_values(tmp_path):
    big = np.random.default_rng(1).integers(0, 256, 1 << 20, dtype=np.uint8).tobytes()
    _decode_both_within_a_second(tmp_path, [big, big])


def test_decode_thousand_values_share_64k_head(tmp_path):
    head = np.random.default_rng(2).integers(0, 256, 1 << 16, dtype=np.uint8).tobytes()
    _decode_both_within_a_second(tmp_path, [head + b"%06d" % (7 * i) for i in range(1000)])


# -- hostile pages -------------------------------------------------------------


def _url_page() -> tuple[list[bytes], bytes]:
    urls = sorted(f"https://site{i % 7}.example.com/p/{i % 11}/{i}".encode() for i in range(300))
    offs, data = _parts(urls)
    return urls, prefix.encode(offs, data)


def _decode_or_valueerror(blob: bytes, n: int) -> pa.Array | None:
    """Decoded array, or None for a ``ValueError`` — validated outside the
    try, since ``ArrowInvalid`` is itself a ``ValueError``."""
    try:
        out = prefix.decode(blob, n, pa.binary())
    except ValueError:
        return None
    out.validate(full=True)
    return out


def test_prefix_page_every_truncation_raises():
    urls, blob = _url_page()
    assert _decode_or_valueerror(blob, len(urls)).to_pylist() == urls
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            prefix.decode(blob[:cut], len(urls), pa.binary())


def test_prefix_page_bit_flips_give_valid_arrays_or_valueerror():
    """Every bit of the count and length streams, and a sample of the suffix
    bytes (a flip there changes value bytes only)."""
    urls, blob = _url_page()
    offs, data = _parts(urls)
    streams = len(blob) - len(prefix.split(offs, data)[2])
    bits = list(range(streams * 8))
    bits += np.random.default_rng(6).choice(range(streams * 8, len(blob) * 8), 256, replace=False).tolist()
    raised = 0
    for bit in bits:
        bad = bytearray(blob)
        bad[bit >> 3] ^= 1 << (bit & 7)
        raised += _decode_or_valueerror(bytes(bad), len(urls)) is None
    assert raised


def test_prefix_decode_rejects_bad_prefix_lengths():
    def page(p, slens, suffix):
        ep, es = delta.encode(np.array(p)), delta.encode(np.array(slens))
        return write_uvarint(len(p)) + write_uvarint(len(ep)) + ep + write_uvarint(len(es)) + es + suffix

    assert prefix.decode(page([0, 2, 1], [3, 1, 2], b"abcxyz"), 3).to_pylist() == [b"abc", b"abx", b"ayz"]
    for p in ([1, 2, 1], [0, -1, 1], [0, 4, 1], [0, 2, 4]):
        with pytest.raises(ValueError):
            prefix.decode(page(p, [3, 1, 2], b"abcxyz"), 3)
    with pytest.raises(ValueError):
        prefix.decode(page([0, 0, 0], [3, -1, 4], b"abcxyz"), 3)


def test_deltalength_rejects_negative_and_overlong_lengths():
    enc = delta.encode(np.array([3, -2, 4]))
    with pytest.raises(ValueError):
        deltalength.decode(write_uvarint(len(enc)) + enc + b"abcdefg", 3)
    enc = delta.encode(np.array([3, 2, 4]))
    with pytest.raises(ValueError):
        deltalength.decode(write_uvarint(len(enc)) + enc + b"abcdefg", 3)
    out = deltalength.decode(write_uvarint(len(enc)) + enc + b"abcdefghi", 3)
    out.validate(full=True)
    assert out.to_pylist() == [b"abc", b"de", b"fghi"]
