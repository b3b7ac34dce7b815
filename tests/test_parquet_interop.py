"""Differential format-parity tests (SURVEY.md §7.2 item 2): decode REAL
pyarrow-written parquet pages with webcodec kernels only and compare value
for value against the reference reader. Proves the spec RLE/bit-pack/level
machinery matches reference semantics beyond self-round-trip."""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec.parquet_interop import read_table_arrow_native


def _roundtrip_column(tmp_path, table: pa.Table, col: int, **write_kw):
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path, data_page_version="1.0", **write_kw)
    want = table.column(col).to_pylist()
    got = read_table_arrow_native(path).column(col).to_pylist()
    assert len(got) == len(want)
    return got, want


@pytest.mark.parametrize("codec", ["none", "snappy", "zstd", "gzip"])
def test_dictionary_string_column(tmp_path, codec):
    langs = [["en", "de", "fr", None][i % 4] for i in range(5_000)]
    t = pa.table({"lang": pa.array(langs)})
    got, want = _roundtrip_column(tmp_path, t, 0, compression=codec)
    got = [v.decode() if isinstance(v, bytes) else v for v in got]
    assert got == want


def test_plain_int64_and_double(tmp_path):
    rng = np.random.default_rng(5)
    t = pa.table(
        {
            "i": pa.array(rng.integers(-(2**40), 2**40, 4_000), pa.int64()),
            "d": pa.array(rng.standard_normal(4_000), pa.float64()),
        }
    )
    for col in (0, 1):
        got, want = _roundtrip_column(
            tmp_path, t, col, compression="zstd", use_dictionary=False
        )
        assert got == want


def test_nullable_int_with_levels(tmp_path):
    vals = [None if i % 7 == 0 else i * 3 for i in range(6_000)]
    t = pa.table({"x": pa.array(vals, pa.int64())})
    got, want = _roundtrip_column(tmp_path, t, 0, compression="snappy")
    assert got == want


def test_multi_page_dictionary_int(tmp_path):
    # small page size forces several data pages -> several RLE streams
    vals = [i % 37 for i in range(50_000)]
    t = pa.table({"k": pa.array(vals, pa.int32())})
    got, want = _roundtrip_column(
        tmp_path, t, 0, compression="zstd", data_page_size=4096
    )
    assert got == want


def test_all_null_column(tmp_path):
    t = pa.table({"x": pa.array([None] * 1_000, pa.int64())})
    got, want = _roundtrip_column(tmp_path, t, 0)
    assert got == want


def test_mostly_null_string(tmp_path):
    vals = [None] * 900 + ["tail"] * 100
    t = pa.table({"s": pa.array(vals, pa.string())})
    got, want = _roundtrip_column(tmp_path, t, 0, compression="zstd")
    got = [v.decode() if isinstance(v, bytes) else v for v in got]
    assert got == want


@pytest.mark.parametrize("codec", ["none", "zstd", "snappy"])
def test_v2_pages_dictionary_and_nulls(tmp_path, codec):
    """Format v2 data pages: uncompressed level region + header lengths."""
    vals = [None if i % 9 == 0 else ["a", "bb", "ccc"][i % 3] for i in range(8_000)]
    t = pa.table({"s": pa.array(vals, pa.string()),
                  "n": pa.array([None if i % 5 == 0 else i for i in range(8_000)], pa.int64())})
    path = str(tmp_path / "v2.parquet")
    pq.write_table(t, path, data_page_version="2.0", compression=codec,
                   data_page_size=4096)
    for col in (0, 1):
        got = read_table_arrow_native(path).column(col).to_pylist()
        want = t.column(col).to_pylist()
        got = [v.decode() if isinstance(v, bytes) else v for v in got]
        assert got == want


def test_v2_pages_plain(tmp_path):
    t = pa.table({"d": pa.array(np.random.default_rng(2).standard_normal(3_000))})
    path = str(tmp_path / "v2p.parquet")
    pq.write_table(t, path, data_page_version="2.0", use_dictionary=False,
                   compression="zstd")
    assert (read_table_arrow_native(path).column(0).to_pylist()
            == t.column(0).to_pylist())


# ---------------- spec DELTA / BYTE_STREAM_SPLIT encodings ----------------
# pyarrow's writer emits these via column_encoding= (dictionary off). Decoding
# them with webcodec's delta/bss kernels differential-tests the kernel family
# against arrow-C++'s independent implementation of the same spec.


def _encoded_roundtrip(tmp_path, arr: pa.Array, encoding: str, *,
                       page_version="1.0", codec="zstd", page_size=None):
    t = pa.table({"c": arr})
    path = str(tmp_path / "enc.parquet")
    kw = {"data_page_size": page_size} if page_size else {}
    pq.write_table(t, path, data_page_version=page_version, compression=codec,
                   use_dictionary=False, column_encoding={"c": encoding}, **kw)
    # prove the writer actually used the requested encoding
    encs = pq.ParquetFile(path).metadata.row_group(0).column(0).encodings
    assert encoding in encs, encs
    got = read_table_arrow_native(path).column(0).to_pylist()
    want = t.column(0).to_pylist()
    assert len(got) == len(want)
    return got, want


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("dtype", [pa.int32(), pa.int64()])
def test_delta_binary_packed_ints(tmp_path, page_version, dtype):
    rng = np.random.default_rng(7)
    lim = 2**30 if dtype == pa.int32() else 2**55
    vals = np.cumsum(rng.integers(-1000, 1000, 20_000)) % lim
    got, want = _encoded_roundtrip(
        tmp_path, pa.array(vals, dtype), "DELTA_BINARY_PACKED",
        page_version=page_version)
    assert got == want


def test_delta_binary_packed_nullable_multipage(tmp_path):
    vals = [None if i % 11 == 0 else i * 97 - 3_000_000 for i in range(60_000)]
    got, want = _encoded_roundtrip(
        tmp_path, pa.array(vals, pa.int64()), "DELTA_BINARY_PACKED",
        page_size=4096)
    assert got == want


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_delta_length_byte_array(tmp_path, page_version):
    vals = [None if i % 13 == 0 else f"url-{i % 997}/{'x' * (i % 23)}"
            for i in range(15_000)]
    got, want = _encoded_roundtrip(
        tmp_path, pa.array(vals, pa.string()), "DELTA_LENGTH_BYTE_ARRAY",
        page_version=page_version)
    got = [v.decode() if isinstance(v, bytes) else v for v in got]
    assert got == want


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_delta_byte_array_prefix(tmp_path, page_version):
    # sorted URLs share prefixes -> real prefix lengths in the stream
    vals = sorted(f"https://site-{i % 50}.example/path/{i:07d}"
                  for i in range(12_000))
    vals = [None if i % 17 == 0 else v for i, v in enumerate(vals)]
    got, want = _encoded_roundtrip(
        tmp_path, pa.array(vals, pa.string()), "DELTA_BYTE_ARRAY",
        page_version=page_version, page_size=8192)
    got = [v.decode() if isinstance(v, bytes) else v for v in got]
    assert got == want


@pytest.mark.parametrize("dtype,lim", [(pa.float32(), None), (pa.float64(), None),
                                       (pa.int32(), 2**31), (pa.int64(), 2**62)])
def test_byte_stream_split(tmp_path, dtype, lim):
    rng = np.random.default_rng(11)
    if lim is None:
        arr = pa.array(rng.standard_normal(9_000), dtype)
    else:
        arr = pa.array(rng.integers(-lim, lim, 9_000), dtype)
    got, want = _encoded_roundtrip(tmp_path, arr, "BYTE_STREAM_SPLIT")
    assert got == want


# --------------------------- nested assembly (r5) ---------------------------

_NESTED_CASES = {
    "list": pa.array([[1, 2], None, [], [None, 5]], pa.list_(pa.int64())),
    "struct": pa.array(
        [{"x": 1, "y": "a"}, None, {"x": None, "y": "b"}],
        pa.struct([("x", pa.int64()), ("y", pa.string())])),
    "map": pa.array([[("k1", 1), ("k2", None)], None, [], [("z", 9)]],
                    pa.map_(pa.string(), pa.int64())),
    "list_struct": pa.array(
        [[{"a": 1}, None, {"a": None}], None, [], [{"a": 7}]],
        pa.list_(pa.struct([("a", pa.int64())]))),
    "list_list": pa.array([[[1, 2], None, []], None, [[3]], []],
                          pa.list_(pa.list_(pa.int64()))),
    "struct_list": pa.array(
        [{"v": [1, 2], "w": "x"}, None, {"v": None, "w": None},
         {"v": [], "w": "y"}],
        pa.struct([("v", pa.list_(pa.int64())), ("w", pa.string())])),
    "map_list": pa.array([[("a", [1, None]), ("b", [])], None, [("c", None)]],
                         pa.map_(pa.string(), pa.list_(pa.int64()))),
    "deep": pa.array(
        [[{"q": [{"r": 1}]}], None, [{"q": None}, None], []],
        pa.list_(pa.struct([("q", pa.list_(pa.struct([("r", pa.int64())])))]))),
    "bool_list": pa.array([[True, None, False], None, []],
                          pa.list_(pa.bool_())),
}


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("name", sorted(_NESTED_CASES))
def test_nested_assembly_reference_files(tmp_path, name, page_version):
    """Dremel ASSEMBLY from pyarrow-written nested files (the read-side
    inverse of the export shredder): list/struct/map at arbitrary depth,
    v1 and v2 pages, dict and plain, reconstructed value-identical by
    read_table_arrow_native using only webcodec kernels."""

    arr = _NESTED_CASES[name]
    t = pa.table({"c": arr})
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, data_page_version=page_version,
                   use_dictionary=(page_version == "1.0"), compression="zstd")
    got = read_table_arrow_native(p, ["c"]).column("c").combine_chunks()
    want = t.column("c").combine_chunks()
    if got.type != want.type:
        got = got.cast(want.type)
    assert got.equals(want), name


@pytest.mark.parametrize("seed", range(12))
def test_nested_assembly_fuzz(tmp_path, seed):
    """Random-SCHEMA assembly fuzz: pyarrow writes random list/struct/map
    compositions (depth <= 3, random nulls/empties); read_table_arrow_native
    must reconstruct them value-identical. Shares the generator with the export
    fuzz, so BOTH interop directions cover the same shape space."""
    import random

    from test_parquet_writer import _rand_nested_type, _rand_nested_value

    py = random.Random(7_000 + seed)
    rng = np.random.default_rng(7_000 + seed)
    n = py.choice([0, 1, 3, 50, 300])
    typ = _rand_nested_type(py, py.randint(1, 3))
    t = pa.table({"c": pa.array(
        [_rand_nested_value(py, rng, typ) for _ in range(n)], typ)})
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, data_page_version=["1.0", "2.0"][seed % 2],
                   use_dictionary=bool(seed % 3),
                   compression=["zstd", "snappy", "none"][seed % 3])
    got = read_table_arrow_native(p, ["c"]).column("c").combine_chunks()
    want = t.column("c").combine_chunks()
    if got.type != want.type:
        got = got.cast(want.type)
    assert got.equals(want), seed


@pytest.mark.parametrize("seed", range(6))
def test_own_writer_to_own_reader_nested(tmp_path, seed):
    """Closing the loop: OUR nested export (parquet_writer shredder) read
    back by OUR nested assembly (read_table_arrow_native) — no reference
    code in either direction, still value-identical."""
    import random

    from test_parquet_writer import _rand_nested_type, _rand_nested_value
    from webcodec.parquet_writer import write_parquet

    py = random.Random(9_500 + seed)
    rng = np.random.default_rng(9_500 + seed)
    n = py.choice([1, 5, 120])
    typ = _rand_nested_type(py, py.randint(1, 3))
    t = pa.table({"c": pa.array(
        [_rand_nested_value(py, rng, typ) for _ in range(n)], typ)})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, codec=["zstd", "none"][seed % 2])
    got = read_table_arrow_native(p, ["c"]).column("c").combine_chunks()
    want = t.column("c").combine_chunks()
    if got.type != want.type:
        got = got.cast(want.type)
    assert got.equals(want), seed


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_decimal_flba_assembly(tmp_path, page_version):
    """FLBA decimals (pyarrow's precision-sized FLBA AND our own FLBA(16)
    export) decode through read_table_arrow_native bit-exact, flat and
    nested."""
    import decimal

    from webcodec.parquet_writer import write_parquet

    t = pa.table({
        "d": pa.array([decimal.Decimal("1.23"), None,
                       decimal.Decimal("-99.99")], pa.decimal128(20, 2)),
        "ld": pa.array([[decimal.Decimal("5.00"), None], None, []],
                       pa.list_(pa.decimal128(10, 2))),
        "ts": pa.array([1, 2, None], pa.timestamp("us")),
        "dt": pa.array([1, 2, None], pa.date32()),
    })
    p = str(tmp_path / "ref.parquet")
    pq.write_table(t, p, data_page_version=page_version)
    for c in t.column_names:
        got = read_table_arrow_native(p, [c]).column(c).combine_chunks()
        want = t.column(c).combine_chunks()
        if got.type != want.type:
            got = got.cast(want.type)
        assert got.equals(want), c
    p2 = str(tmp_path / "own.parquet")
    write_parquet(t.select(["d", "ld"]), p2, codec="zstd")
    for c in ("d", "ld"):
        got = read_table_arrow_native(p2, [c]).column(c).combine_chunks()
        want = t.column(c).combine_chunks()
        if got.type != want.type:
            got = got.cast(want.type)
        assert got.equals(want), ("own", c)


def test_int96_timestamps_and_read_table_arrow(tmp_path):
    """Legacy INT96 timestamps (parquet-java's historical layout: 8B LE
    nanos-in-day + 4B LE julian day) decode to epoch nanoseconds, and
    read_table_arrow_native assembles whole multi-row-group files."""

    t = pa.table({
        "ts": pa.array([1_700_000_000_000_000, 2, None, 0], pa.timestamp("us")),
        "l": pa.array([[1], None, [2, 3], []], pa.list_(pa.int64())),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, use_deprecated_int96_timestamps=True, row_group_size=2)
    got = read_table_arrow_native(p)
    want = pq.read_table(p)  # reference reader, same file
    assert pq.ParquetFile(p).metadata.num_row_groups == 2
    for c in t.column_names:
        g = got.column(c).combine_chunks().cast(want.column(c).type)
        assert g.equals(want.column(c).combine_chunks()), c


def test_corrupt_footer_shapes_raise_valueerror(tmp_path):
    """A chunk path that no longer names its schema leaf, and a footer
    length that starts the parse 40 bytes late, raise ``ValueError`` naming
    the file (the first leaked IndexError from the assembly, the second
    KeyError from the schema parse)."""
    import struct

    t = pa.table({"alpha": pa.array(range(10), pa.int64()),
                  "beta": pa.array([f"v{i}" for i in range(10)])})
    p = str(tmp_path / "base.parquet")
    pq.write_table(t, p)
    raw = open(p, "rb").read()
    (flen,) = struct.unpack("<I", raw[-8:-4])
    at = raw.rindex(b"beta")  # path_in_schema of the second chunk
    renamed = raw[:at] + b"bexa" + raw[at + 4:]
    short = raw[:-8] + struct.pack("<I", flen - 40) + raw[-4:]
    for name, body, match in (("renamed", renamed, "row group 0 column 1"),
                              ("short", short, "FileMetaData")):
        bad = str(tmp_path / f"{name}.parquet")
        open(bad, "wb").write(body)
        with pytest.raises(ValueError, match=match) as ei:
            read_table_arrow_native(bad)
        assert bad in str(ei.value)


@pytest.mark.parametrize("seed", range(4))
def test_native_footer_corruption_raises_cleanly(tmp_path, seed):
    """Bit-flipped footers must either parse (flip landed in padding or an
    ignored field) or raise ValueError naming the file — never hang,
    segfault, loop, or leak an IndexError/TypeError/NotImplementedError
    from the thrift walk (the native thrift parser is the attack surface
    for malformed reference files)."""

    t = pa.table({"a": pa.array(range(100), pa.int64()),
                  "s": pa.array([f"v{i}" for i in range(100)])})
    p = str(tmp_path / "base.parquet")
    pq.write_table(t, p)
    base = bytearray(open(p, "rb").read())
    rng = np.random.default_rng(seed)
    for _ in range(50):
        b = bytearray(base)
        for _f in range(int(rng.integers(1, 5))):
            i = len(b) - 1 - int(rng.integers(0, min(200, len(b))))
            b[i] ^= int(rng.integers(1, 256))
        p2 = str(tmp_path / "c.parquet")
        open(p2, "wb").write(bytes(b))
        try:
            read_table_arrow_native(p2)
        except ValueError as e:
            assert p2 in str(e)


# NotImplementedError a flipped footer may reach: layouts this reader does
# not implement (read_footer_native / dremel.assemble)
_DOCUMENTED_NIE = ("non-standard LIST layout", "non-standard MAP layout",
                   "page type", "encoding", "level encoding", "assembly of")


@functools.lru_cache(maxsize=1)
def _flip_base() -> dict:
    """Our own nested export of ``gen.nested(200, 5)`` with a url bloom
    filter: its bytes, parsed footer and rows (built once per process)."""
    import tempfile

    from perfbench import gen
    from webcodec.parquet_interop import read_footer_native
    from webcodec.parquet_writer import write_parquet

    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/base.parquet"
        write_parquet(gen.nested(200, 5), p, bloom_filter_columns={"url"})
        ft = read_footer_native(p)
        return {"raw": open(p, "rb").read(), "fields": ft["fields"],
                "leaves": ft["leaves"], "rg_rows": ft["rg_rows"],
                "table": read_table_arrow_native(p)}


@pytest.mark.parametrize("seed", range(24))
def test_nested_footer_flips_raise_cleanly(tmp_path, seed):
    """1-3 flipped bits anywhere in the footer of a nested export: the read
    raises ValueError naming the file, raises a documented NotImplementedError, returns the
    exact rows, or returns other rows only because the flipped footer still
    parses and describes other data (its schema fields, leaf layout or row
    group sizes differ) — never a KeyError/TypeError/IndexError/OSError/zlib.error
    from the page walk or the assembly."""
    import struct

    from webcodec.parquet_interop import read_footer_native

    base = _flip_base()
    raw = base["raw"]
    (flen,) = struct.unpack("<I", raw[-8:-4])
    lo = len(raw) - 8 - flen
    rng = np.random.default_rng([seed, 13])
    p = str(tmp_path / "flipped.parquet")
    for _ in range(25):
        b = bytearray(raw)
        for _f in range(int(rng.integers(1, 4))):
            b[int(rng.integers(lo, len(raw) - 8))] ^= 1 << int(rng.integers(0, 8))
        open(p, "wb").write(bytes(b))
        try:
            got = read_table_arrow_native(p)
        except ValueError as e:
            assert p in str(e), e
            continue
        except NotImplementedError as e:
            assert str(e).startswith(_DOCUMENTED_NIE), e
            continue
        if got.equals(base["table"]):
            continue
        ft = read_footer_native(p)
        assert any(ft[k] != base[k] for k in ("fields", "leaves", "rg_rows"))


@pytest.mark.parametrize("codec", ["zstd", "gzip", "snappy"])
def test_damaged_page_names_file_column_and_offset(tmp_path, codec):
    """A page header that does not parse and a page payload the codec
    rejects both raise ValueError naming the file, the column path and the
    page offset (they used to leak IndexError / OSError / zlib.error)."""
    from webcodec.parquet_interop import read_footer_native
    from webcodec.parquet_writer import write_parquet

    p = str(tmp_path / "flat.parquet")
    t = pa.table({"s": pa.array([f"value-{i % 977}-{i}" for i in range(5000)])})
    write_parquet(t, p, codec=codec, use_dictionary=False)
    off = read_footer_native(p)["row_groups"][0][0].data_page_offset
    raw = open(p, "rb").read()
    payload = bytearray(raw)
    for k in range(40, 80):
        payload[off + k] ^= 0x5A
    header = bytearray(raw)
    header[off:off + 2] = b"\x0c\xff"
    for name, body, what in (("payload", payload, "corrupt compressed"),
                             ("header", header, "unparseable header")):
        bad = str(tmp_path / f"{name}.parquet")
        open(bad, "wb").write(bytes(body))
        with pytest.raises(ValueError, match=what) as ei:
            read_table_arrow_native(bad)
        msg = str(ei.value)
        assert bad in msg and "'s'" in msg and f"offset {off}" in msg
