"""Unit tests for every encode/decode kernel (SURVEY.md §5.3 plan, layer 1)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from webcodec.kernels import bitpack, bss, delta, deltalength, dictionary, fsst, plain, prefix, rle
from webcodec.kernels.varint import read_uvarint, unzigzag64, write_uvarint, zigzag64

RNG = np.random.default_rng(42)


# ---------- varint / zigzag ----------


@pytest.mark.parametrize("x", [0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1])
def test_uvarint_roundtrip(x):
    v, pos = read_uvarint(write_uvarint(x), 0)
    assert v == x and pos == len(write_uvarint(x))


def test_zigzag_roundtrip():
    v = np.array([0, -1, 1, -2, 2, np.iinfo(np.int64).min, np.iinfo(np.int64).max], np.int64)
    assert (unzigzag64(zigzag64(v)) == v).all()


# ---------- bitpack ----------


@pytest.mark.parametrize("width", [0, 1, 2, 3, 7, 8, 13, 31, 32, 33, 63, 64])
@pytest.mark.parametrize("n", [0, 1, 7, 8, 9, 100])
def test_bitpack_roundtrip(width, n):
    hi = (1 << width) if width < 64 else (1 << 64)
    v = RNG.integers(0, min(hi, 2**63), size=n).astype(np.uint64)
    if width == 64 and n:
        v[0] = 2**64 - 1
    if width == 0:
        v[:] = 0
    out = bitpack.unpack(bitpack.pack(v, width), width, n)
    assert (out == v).all()


def _int_reference_pack(values: np.ndarray, width: int) -> bytes:
    """Independent LSB-first layout: value i occupies bits [i*w, (i+1)*w)."""
    acc = 0
    for i, x in enumerate(values.tolist()):
        acc |= int(x) << (i * width)
    return acc.to_bytes((len(values) * width + 7) // 8, "little")


@pytest.mark.parametrize("width", range(65))
def test_bitpack_layout_matches_int_reference(width):
    """Pins the bit layout itself: a symmetric change to pack and unpack
    would still round-trip, but not match this."""
    for n in (0, 1, 7, 8, 9, 15, 16, 17, 63, 64, 65, 1001):
        v = RNG.integers(0, 2**63, size=n, dtype=np.uint64)
        v = (v << np.uint64(1)) | (v >> np.uint64(62))  # reach bit 63 too
        if width < 64:
            v &= np.uint64((1 << width) - 1)
        packed = bitpack.pack(v, width)
        assert packed == _int_reference_pack(v, width), (width, n)
        assert (bitpack.unpack(packed, width, n) == v).all(), (width, n)


@pytest.mark.parametrize("width", [1, 5, 8, 13, 31, 59, 63, 64])
def test_bitpack_unpack_buffer_kinds(width):
    """unpack reads a memoryview with trailing bytes and a uint8 ndarray (as
    delta's grouped gather passes), and rejects a short buffer."""
    n = 37
    v = RNG.integers(0, 2**63, size=n, dtype=np.uint64) & np.uint64((1 << width) - 1)
    packed = bitpack.pack(v, width)
    mv = memoryview(b"\xff" * 5 + packed + b"\xff" * 11)[5:]
    assert (bitpack.unpack(mv, width, n) == v).all()
    assert (bitpack.unpack(np.frombuffer(packed, np.uint8), width, n) == v).all()
    with pytest.raises(ValueError):
        bitpack.unpack(packed[:-1], width, n)


def test_bit_length():
    v = np.array([0, 1, 2, 3, 4, 255, 256, 2**63, 2**64 - 1], np.uint64)
    expect = np.array([0, 1, 2, 2, 3, 8, 9, 64, 64])
    assert (bitpack.bit_length(v) == expect).all()


def test_bools():
    for n in (0, 1, 8, 9, 1000):
        m = RNG.random(n) > 0.5
        assert (bitpack.unpack_bools(bitpack.pack_bools(m), n) == m).all()


# ---------- RLE hybrid ----------


@pytest.mark.parametrize(
    "values",
    [
        np.zeros(100, np.uint64),
        np.ones(100, np.uint64),
        np.arange(100, dtype=np.uint64) % 2,
        np.repeat(np.arange(10, dtype=np.uint64), 50),
        RNG.integers(0, 7, 1000).astype(np.uint64),
        np.array([], np.uint64),
        np.array([5], np.uint64),
        np.concatenate([np.full(20, 3, np.uint64), np.arange(5, dtype=np.uint64), np.full(100, 9, np.uint64)]),
    ],
)
def test_rle_roundtrip(values):
    width = bitpack.max_bit_width(values)
    enc = rle.encode(values, width)
    out = rle.decode(enc, width, len(values))
    assert (out == values).all()


def test_rle_compresses_runs():
    v = np.full(10_000, 7, np.uint64)
    assert len(rle.encode(v, 3)) < 10


# a width-9 stream of four spans: bit-packed(10), RLE(20 x 300),
# bit-packed(5), RLE(30 x 511) — the last run's value takes 2 bytes
SPAN_VALUES = np.concatenate([
    np.arange(10, dtype=np.uint64) * 37 % 512, np.full(20, 300, np.uint64),
    np.arange(5, dtype=np.uint64) + 100, np.full(30, 511, np.uint64)])


def test_rle_encode_pinned_bytes():
    """The span layout on disk, pinned byte for byte."""
    enc = rle.encode(SPAN_VALUES, 9)
    assert enc.hex() == "15004a2879432997b781289b02282c010b64ca983983063cff01"
    assert (rle.decode(enc, 9, len(SPAN_VALUES)) == SPAN_VALUES).all()


def _spec_stream(width: int) -> tuple[bytes, np.ndarray]:
    """Spec RLE hybrid stream: bit-packed(2 groups) | RLE(11 x 5) |
    bit-packed(1 group, last 3 values past n)."""
    head = np.arange(16, dtype=np.uint64) % 8
    tail = np.array([1, 2, 3, 4, 5, 0, 0, 0], np.uint64)
    stream = (write_uvarint(2 << 1 | 1) + bitpack.pack(head, width)
              + write_uvarint(11 << 1) + (5).to_bytes((width + 7) // 8, "little")
              + write_uvarint(1 << 1 | 1) + bitpack.pack(tail, width))
    return stream, np.concatenate([head, np.full(11, 5, np.uint64), tail[:5]])


@pytest.mark.parametrize("width", [3, 9])
def test_rle_decode_spec_multi_span(width):
    stream, want = _spec_stream(width)
    assert (rle.decode_spec(stream, width, len(want)) == want).all()


def _truncation_case(name: str):
    if name == "rle":
        return rle.encode(SPAN_VALUES, 9), lambda b: rle.decode(b, 9, len(SPAN_VALUES))
    if name == "rle_spec":
        spec, want = _spec_stream(9)
        return spec, lambda b: rle.decode_spec(b, 9, len(want))
    v = np.cumsum(RNG.integers(-500, 1000, 1000)).astype(np.int64)
    return delta.encode(v), lambda b: delta.decode(b, len(v))


@pytest.mark.parametrize("name", ["rle", "rle_spec", "delta"])
def test_truncated_streams_raise_value_error(name):
    """A stream cut at any byte raises ValueError — never wrong values and
    never a bare IndexError from inside the parser."""
    stream, decode = _truncation_case(name)
    decode(stream)
    for cut in range(len(stream)):
        with pytest.raises(ValueError):
            decode(stream[:cut])


def test_uvarint_truncated_raises_value_error():
    with pytest.raises(ValueError):
        read_uvarint(write_uvarint(300)[:1], 0)
    with pytest.raises(ValueError):
        read_uvarint(b"", 0)


def test_delta_rejects_bad_miniblock_header():
    for block, mbcount in ((128, 0), (0, 4), (128, 3), (36, 4)):
        bad = write_uvarint(block) + write_uvarint(mbcount) + write_uvarint(10) + write_uvarint(0)
        with pytest.raises(ValueError):
            delta.decode(bad + bytes(64), 10)


def test_validity():
    m = RNG.random(5000) > 0.1
    assert (rle.decode_validity(rle.encode_validity(m), len(m)) == m).all()


# ---------- plain ----------


@pytest.mark.parametrize("dtype", [np.int32, np.int64, np.float32, np.float64])
def test_plain_fixed(dtype):
    v = RNG.integers(-1000, 1000, 500).astype(dtype)
    out = plain.decode_fixed(plain.encode_fixed(v), np.dtype(dtype), len(v))
    assert (out == v).all()


def test_plain_binary_roundtrip():
    vals = [b"", b"a", b"hello world", bytes(100), b"\xff" * 7]
    arr = pa.array(vals, type=pa.binary())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=len(vals) + 1)
    data = arr.buffers()[2] or b""
    enc = plain.encode_binary(offsets, data)
    out = plain.decode_binary(enc, len(vals))
    assert out.to_pylist() == vals


# ---------- BSS ----------


@pytest.mark.parametrize("dtype", [np.float32, np.float64, np.int32, np.int64])
def test_bss_roundtrip(dtype):
    v = RNG.standard_normal(333).astype(dtype)
    out = bss.decode(bss.encode(v), np.dtype(dtype), len(v))
    assert (out == v).all()


# ---------- delta (FOR + delta + bitpack) ----------


@pytest.mark.parametrize(
    "v",
    [
        np.array([], np.int64),
        np.array([42], np.int64),
        np.arange(1000, dtype=np.int64),
        np.arange(1000, dtype=np.int64)[::-1].copy(),
        np.full(500, -7, np.int64),
        RNG.integers(-(2**62), 2**62, 10_000).astype(np.int64),
        np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1], np.int64),
        1_700_000_000_000_000 + np.sort(RNG.integers(0, 10**12, 2_000)),
        np.array([2**k - 1 for k in range(63)] + [-(2**k) for k in range(63)], np.int64),
    ],
)
def test_delta_roundtrip(v):
    out = delta.decode(delta.encode(v), len(v))
    assert (out == v).all()


def test_delta_sorted_is_small():
    v = np.arange(100_000, dtype=np.int64)  # constant delta 1 -> ~0 bits/value
    assert len(delta.encode(v)) < 5_000


# ---------- delta-length / prefix over string arrays ----------


def _str_parts(values: list) -> tuple[np.ndarray, bytes]:
    arr = pa.array(values, type=pa.string())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32, count=len(values) + 1)
    data = bytes(arr.buffers()[2] or b"")
    return offsets.astype(np.int64), data


STRING_CASES = [
    [],
    [""],
    ["a"],
    ["hello", "hello", "help", "he", "x", ""],
    [f"https://site{i%5:03d}.com/path/{i%97}/page{i}.html" for i in range(500)],
    sorted(f"https://site{i%5:03d}.com/path/{i%97}/page{i}.html" for i in range(500)),
    ["中文", "中文内容", "русский", "", "a" * 300],
]


@pytest.mark.parametrize("values", STRING_CASES)
def test_deltalength_roundtrip(values):
    offsets, data = _str_parts(values)
    out = deltalength.decode(deltalength.encode(offsets, data), len(values), pa.string())
    assert out.to_pylist() == values


@pytest.mark.parametrize("values", STRING_CASES)
def test_prefix_roundtrip(values):
    offsets, data = _str_parts(values)
    out = prefix.decode(prefix.encode(offsets, data), len(values), pa.string())
    assert out.to_pylist() == values


def test_prefix_sorted_urls_beat_plain():
    values = sorted(f"https://site{i%5:03d}.com/path/{i%97}/page{i}.html" for i in range(2000))
    offsets, data = _str_parts(values)
    assert len(prefix.encode(offsets, data)) < 0.45 * len(data)


def test_prefix_matrix_vs_sequential():
    values = sorted(f"https://site{i%3}.com/p{i}" for i in range(200))
    offsets, data = _str_parts(values)
    enc = prefix.encode(offsets, data)
    fast = prefix.decode(enc, len(values), pa.string())
    import webcodec.kernels.prefix as P

    cap = P._MATRIX_BYTE_CAP
    P._MATRIX_BYTE_CAP = 0  # force sequential fallback
    try:
        slow = prefix.decode(enc, len(values), pa.string())
    finally:
        P._MATRIX_BYTE_CAP = cap
    assert fast.to_pylist() == slow.to_pylist() == values


# ---------- dictionary ----------


def test_dictionary_roundtrip():
    vals = ["en"] * 50 + ["de"] * 20 + ["fr", "en", "zh"] * 10
    arr = pa.array(vals, type=pa.string())
    dict_vals, idx = dictionary.build(arr)
    enc = dictionary.encode_indices(idx, len(dict_vals))
    out_idx = dictionary.decode_indices(enc, len(vals))
    assert (out_idx == idx).all()
    assert dictionary.take(dict_vals, out_idx).to_pylist() == vals


def test_dictionary_first_occurrence_order():
    arr = pa.array(["b", "a", "b", "c"])
    dict_vals, _ = dictionary.build(arr)
    assert dict_vals.to_pylist() == ["b", "a", "c"]


# ---------- FSST ----------


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"hello hello hello world world",
        b"the quick brown fox " * 200,
        bytes(range(256)) * 4,
        b"\xff\xff\xff\xff",
        "中文内容русский".encode() * 50,
        b"x" * 10_000,
    ],
)
def test_fsst_roundtrip(data):
    table = fsst.build_table(data[:4096])
    enc = fsst.encode(data, table)
    assert fsst.decode(enc, table) == data


def test_fsst_compress_blob():
    data = b"the quick brown fox jumps over the lazy dog " * 500
    blob = fsst.compress(data)
    assert fsst.decompress(blob) == data
    assert len(blob) < 0.5 * len(data)


def test_fsst_random_bytes_roundtrip():
    data = RNG.bytes(5000)
    table = fsst.build_table(data[:4096])
    assert fsst.decode(fsst.encode(data, table), table) == data


def test_legacy_bitpacked_spec_vector():
    """A4: the parquet-format Encodings.md worked example — values 0..7 at
    width 3 pack (MSB-first) to 00000101 00111001 01110111."""
    import numpy as np

    from webcodec.kernels import bitpack

    v = np.arange(8, dtype=np.uint64)
    packed = bitpack.pack_legacy(v, 3)
    assert packed == bytes([0b00000101, 0b00111001, 0b01110111])
    assert (bitpack.unpack_legacy(packed, 3, 8) == v).all()


def test_legacy_bitpacked_roundtrip_widths():
    import numpy as np

    from webcodec.kernels import bitpack

    rng = np.random.default_rng(11)
    for w in (1, 2, 3, 5, 7, 8, 12, 16, 24, 33, 64):
        hi = (1 << w) - 1
        v = rng.integers(0, hi, size=257, dtype=np.uint64) if w < 64 else rng.integers(0, 2**63, size=257, dtype=np.uint64)
        assert (bitpack.unpack_legacy(bitpack.pack_legacy(v, w), w, len(v)) == v).all()
