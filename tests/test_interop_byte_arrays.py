"""BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY leaves in the interop reader.

Value streams travel as Arrow binary arrays from page decode to the output
column, so these tests compare whole tables against ``pq.read_table`` across
every byte-array encoding, page version and null pattern, check the decimal
buffers against a Python-int reference, and feed truncated or hostile page
bodies to the decoders (the only allowed failure is ``ValueError``)."""

from __future__ import annotations

import decimal
import struct
import types

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.kernels import delta


def _strings(pattern: str, n: int = 3_000) -> list:
    base = [f"v{i % 211}/{'x' * (i % 29)}" for i in range(n)]
    if pattern == "present":
        return base
    if pattern == "some_null":
        return [None if i % 7 == 3 else v for i, v in enumerate(base)]
    if pattern == "all_null":
        return [None] * n
    # empty strings between values and nulls
    return [None if i % 11 == 5 else "" if i % 3 else v
            for i, v in enumerate(base)]


def _check(path: str, **kw) -> pa.Table:
    want = pq.read_table(path)
    got = pi.read_table_arrow(path, **kw)
    assert got.schema == want.schema
    assert got.equals(want)
    return got


def _data_page_encodings(path: str, column: int = 0) -> list[int]:
    """Value encoding of every data page of the first chunk of ``column``."""
    ft = pi.read_footer_native(path)
    buf, meta = ft["buf"], ft["row_groups"][0][column]
    pos = meta.dictionary_page_offset or meta.data_page_offset
    end = pos + meta.total_compressed_size
    encs = []
    while pos < end:
        hdr, pos = pi._read_struct(buf, pos)
        pos += hdr[3]
        if hdr[1] == 0:
            encs.append(hdr[5][2])
        elif hdr[1] == 3:
            encs.append(hdr[8][4])
    return encs


_ENCODINGS = {"PLAIN": {"use_dictionary": False,
                        "column_encoding": {"s": "PLAIN"}},
              "DICTIONARY": {"use_dictionary": True},
              "DELTA_LENGTH_BYTE_ARRAY": {
                  "use_dictionary": False,
                  "column_encoding": {"s": "DELTA_LENGTH_BYTE_ARRAY"}},
              "DELTA_BYTE_ARRAY": {
                  "use_dictionary": False,
                  "column_encoding": {"s": "DELTA_BYTE_ARRAY"}}}


@pytest.mark.parametrize("pattern", ["present", "some_null", "all_null",
                                     "empty"])
@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
@pytest.mark.parametrize("encoding", sorted(_ENCODINGS))
def test_string_encodings_match_reference(tmp_path, encoding, page_version,
                                          pattern):
    t = pa.table({"s": pa.array(_strings(pattern), pa.string()),
                  "b": pa.array([None if v is None else v.encode()
                                 for v in _strings(pattern)], pa.binary())})
    p = str(tmp_path / "s.parquet")
    pq.write_table(t, p, data_page_version=page_version, data_page_size=4096,
                   **_ENCODINGS[encoding])
    _check(p)


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_required_string_column(tmp_path, page_version):
    vals = ["" if i % 3 else f"v{i}" for i in range(2_000)]
    t = pa.table({"s": pa.array(vals, pa.string())})
    t = t.cast(pa.schema([pa.field("s", pa.string(), nullable=False)]))
    p = str(tmp_path / "r.parquet")
    pq.write_table(t, p, data_page_version=page_version, data_page_size=2048)
    _check(p)


@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_list_and_map_of_strings(tmp_path, page_version):
    rng = np.random.default_rng(3)
    lists, maps = [], []
    for i in range(2_000):
        k = int(rng.integers(0, 5))
        lists.append(None if i % 13 == 0 else
                     [None if j % 4 == 3 else "" if j % 5 == 1 else f"w{i}-{j}"
                      for j in range(k)])
        maps.append(None if i % 17 == 0 else
                    [(f"k{j}", None if j % 3 == 2 else "" if j % 4 == 1
                      else f"v{i}") for j in range(k)])
    t = pa.table({"l": pa.array(lists, pa.list_(pa.string())),
                  "m": pa.array(maps, pa.map_(pa.string(), pa.string()))})
    p = str(tmp_path / "n.parquet")
    pq.write_table(t, p, data_page_version=page_version, data_page_size=4096)
    _check(p)


def test_large_binary_past_int32_offsets(tmp_path, monkeypatch):
    """Chunks whose value bytes pass the int32 offset range switch to
    large_binary; the limit is lowered here so a small file crosses it."""
    monkeypatch.setattr(pi, "_I32_MAX", 5_000)
    t = pa.table({"s": pa.array(_strings("empty"), pa.string()),
                  "l": pa.array([None if i % 5 == 0 else [f"e{i}", None]
                                 for i in range(3_000)],
                                pa.list_(pa.string()))})
    p = str(tmp_path / "big.parquet")
    pq.write_table(t, p, data_page_size=2048, use_dictionary=False)
    ft = pi.read_footer_native(p)
    vals, _, _ = pi._read_leaf_entries(ft["buf"], ft["row_groups"][0][0],
                                       "BYTE_ARRAY", 0, 1)
    assert vals.type == pa.large_binary()
    _check(p)


def test_dictionary_fallback_to_plain_multi_page(tmp_path):
    vals = [None if i % 19 == 0 else f"unique-{i:06d}-{'y' * (i % 13)}"
            for i in range(20_000)]
    t = pa.table({"s": pa.array(vals, pa.string())})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p, dictionary_pagesize_limit=4096, data_page_size=4096)
    encs = _data_page_encodings(p)
    assert pi._ENC_RLE_DICT in encs and pi._ENC_PLAIN in encs, encs
    _check(p)


def test_page_selective_dictionary_strings(tmp_path, monkeypatch):
    keys = [None if i % 23 == 0 else f"key-{i // 40:05d}"
            for i in range(30_000)]
    t = pa.table({"k": pa.array(keys, pa.string()),
                  "i": pa.array(range(30_000), pa.int64())})
    p = str(tmp_path / "sel.parquet")
    pq.write_table(t, p, data_page_size=2048, write_page_index=True,
                   use_dictionary=True)
    assert pi._ENC_RLE_DICT in _data_page_encodings(p)
    calls = []
    orig = pi._read_flat_ranges

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(pi, "_read_flat_ranges", counting)
    flt = [("k", ">=", "key-00300"), ("k", "<", "key-00310")]
    got = pi.read_table_arrow(p, filters=flt)
    want = pq.read_table(p, filters=flt)
    assert calls
    assert got.num_rows == want.num_rows > 0
    assert got.equals(want)


_CTX = decimal.Context(prec=100)  # exact at every precision under test


def _decimal_values(precision: int, scale: int, n: int = 1_500) -> list:
    rng = np.random.default_rng(precision)
    top = 10 ** precision - 1
    out = []
    for i in range(n):
        if i % 9 == 4:
            out.append(None)
            continue
        digits = rng.integers(0, 10, int(rng.integers(1, precision + 1)))
        v = top if i % 97 == 0 else int("".join(map(str, digits)))
        out.append(decimal.Decimal(-v if i % 2 else v).scaleb(-scale, _CTX))
    return out


@pytest.mark.parametrize("typ", [pa.decimal128(12, 2), pa.decimal128(38, 10),
                                 pa.decimal256(50, 5), pa.decimal256(76, 0)])
@pytest.mark.parametrize("page_version", ["1.0", "2.0"])
def test_flba_decimals_match_reference(tmp_path, typ, page_version):
    vals = _decimal_values(typ.precision, typ.scale)
    lists = [None if i % 11 == 0 else [v, None, vals[i * 7 % len(vals)]]
             for i, v in enumerate(vals)]
    t = pa.table({"d": pa.array(vals, typ),
                  "l": pa.array(lists, pa.list_(typ))})
    p = str(tmp_path / "d.parquet")
    pq.write_table(t, p, data_page_version=page_version)
    assert pi.read_footer_native(p)["leaves"][0]["phys"] == \
        "FIXED_LEN_BYTE_ARRAY"
    got = _check(p)
    assert got.column("d").to_pylist() == vals


def test_int_backed_decimals_match_reference(tmp_path):
    p = str(tmp_path / "di.parquet")
    duckdb.sql(f"""
        copy (select case when range % 7 = 3 then null
                          else cast((range * 7919 - 500000) / 100.0
                                    as decimal(8,2)) end d32,
                     case when range % 5 = 1 then null
                          else cast((range * 104729 - 90000000) / 100.0
                                    as decimal(12,2)) end d64
              from range(3000))
        to '{p}' (format parquet)
    """)
    phys = [lf["phys"] for lf in pi.read_footer_native(p)["leaves"]]
    assert phys == ["INT32", "INT64"]
    got = _check(p)
    assert got.schema.field("d64").type == pa.decimal128(12, 2)
    assert min(v for v in got.column("d64").to_pylist() if v is not None) < 0


@pytest.mark.parametrize("typ", [pa.decimal128(38, 3), pa.decimal256(76, 3)])
def test_decimal_buffers_against_python_ints(typ):
    """Variable-length big-endian values (BYTE_ARRAY-backed decimals) and
    int64 lanes, against int.from_bytes / Decimal on every value."""
    rng = np.random.default_rng(11)
    width = 32 if pa.types.is_decimal256(typ) else 16
    raw = [bytes(rng.integers(0, 256, int(rng.integers(0, width + 1)),
                              dtype=np.uint8)) for _ in range(400)]
    defs = (np.arange(450) % 9 != 2).astype(np.int64)
    defs[np.flatnonzero(defs)[400:]] = 0
    got = pi._leaf_arrow(pa.array(raw, pa.binary()), defs, 1, typ)
    it = iter(raw)
    want = [decimal.Decimal(int.from_bytes(next(it), "big", signed=True))
            .scaleb(-typ.scale, _CTX) if d else None for d in defs]
    assert got.to_pylist() == want

    ints = rng.integers(-(2**63), 2**63 - 1, 400, dtype=np.int64)
    got = pi._leaf_arrow(ints, defs, 1, typ)
    it = iter(ints.tolist())
    want = [decimal.Decimal(next(it)).scaleb(-typ.scale, _CTX) if d else None
            for d in defs]
    assert got.to_pylist() == want


def test_decimal_wider_than_type_raises():
    with pytest.raises(ValueError, match="does not fit"):
        pi._leaf_arrow(pa.array([b"\x01" * 17], pa.binary()), None, 0,
                       pa.decimal128(38, 0))


# ------------------------- truncated and hostile pages -----------------------


def _first_page_body(path: str) -> tuple[memoryview, int]:
    """(values region, value count) of the first data page of a REQUIRED,
    uncompressed v1 column — no level streams precede the values."""
    ft = pi.read_footer_native(path)
    buf, meta = ft["buf"], ft["row_groups"][0][0]
    hdr, pos = pi._read_struct(buf, meta.data_page_offset)
    return buf[pos : pos + hdr[3]], hdr[5][1]


def _required_page(tmp_path, arr: pa.Array, **kw) -> tuple[memoryview, int]:
    t = pa.table({"c": arr}).cast(
        pa.schema([pa.field("c", arr.type, nullable=False)]))
    p = str(tmp_path / "page.parquet")
    pq.write_table(t, p, compression="none", data_page_version="1.0",
                   use_dictionary=False, **kw)
    return _first_page_body(p)


def _every_truncation_raises(decode, body: memoryview):
    for k in range(len(body)):
        with pytest.raises(ValueError):
            decode(body[:k])


def test_truncated_plain_byte_array(tmp_path):
    vals = ["", "a", "bcd", "", "efghijk", "lm" * 20, "n"]
    body, n = _required_page(tmp_path, pa.array(vals, pa.string()))
    assert pi._plain_values(body, n, "BYTE_ARRAY").to_pylist() == \
        [v.encode() for v in vals]
    _every_truncation_raises(
        lambda b: pi._plain_values(b, n, "BYTE_ARRAY"), body)


def test_truncated_flba(tmp_path):
    vals = [bytes([i]) * 5 for i in range(9)]
    body, n = _required_page(tmp_path, pa.array(vals, pa.binary(5)))
    assert pi._plain_values(body, n, "FIXED_LEN_BYTE_ARRAY", 5).to_pylist() \
        == vals
    _every_truncation_raises(
        lambda b: pi._plain_values(b, n, "FIXED_LEN_BYTE_ARRAY", 5), body)


def test_truncated_delta_length_byte_array(tmp_path):
    vals = [f"{'z' * (i % 6)}{i}" for i in range(40)]
    body, n = _required_page(
        tmp_path, pa.array(vals, pa.string()),
        column_encoding={"c": "DELTA_LENGTH_BYTE_ARRAY"})
    assert pi._delta_length_byte_array(body, n).to_pylist() == \
        [v.encode() for v in vals]
    _every_truncation_raises(lambda b: pi._delta_length_byte_array(b, n),
                             body)


def test_short_byte_array_pages_raise():
    u32 = struct.Struct("<I").pack
    with pytest.raises(ValueError):  # value runs past the body
        pi._plain_values(memoryview(u32(5) + b"abc"), 1, "BYTE_ARRAY")
    with pytest.raises(ValueError):  # length prefix cut short
        pi._plain_values(memoryview(b"\x05\x00"), 1, "BYTE_ARRAY")
    with pytest.raises(ValueError):  # second FLBA value incomplete
        pi._plain_values(memoryview(b"abcdefg"), 2, "FIXED_LEN_BYTE_ARRAY", 4)
    lens = delta.encode(np.array([3, 9], np.int64))
    with pytest.raises(ValueError):  # blob shorter than the lengths' sum
        pi._delta_length_byte_array(memoryview(lens + b"abcde"), 2)
    lens = delta.encode(np.array([3, -1], np.int64))
    with pytest.raises(ValueError):  # negative length
        pi._delta_length_byte_array(memoryview(lens + b"abcde"), 2)


def test_delta_byte_array_prefix_past_previous_value_raises():
    prefixes = delta.encode(np.array([0, 5], np.int64))
    suffixes = delta.encode(np.array([2, 1], np.int64)) + b"abc"
    with pytest.raises(ValueError, match="prefix"):
        pi._delta_byte_array(memoryview(prefixes + suffixes), 2)


def _dict_data_page_meta(path: str):
    """Chunk meta that starts AT the first data page (skipping the chunk's
    dictionary page), the way page-selective reads inject a dictionary."""
    ft = pi.read_footer_native(path)
    meta = ft["row_groups"][0][0]
    assert meta.dictionary_page_offset is not None
    return types.SimpleNamespace(
        compression=meta.compression, dictionary_page_offset=None,
        data_page_offset=meta.data_page_offset,
        total_compressed_size=(meta.dictionary_page_offset
                               + meta.total_compressed_size
                               - meta.data_page_offset),
        num_values=meta.num_values, crypto=None, path=meta.path), ft["buf"]


@pytest.mark.parametrize("kind", ["string", "int64"])
def test_dictionary_index_out_of_range(tmp_path, kind):
    if kind == "string":
        arr = pa.array([f"s{i % 5}" for i in range(200)], pa.string())
        phys, short = "BYTE_ARRAY", pa.array([b"s0", b"s1"], pa.binary())
    else:
        arr = pa.array([i % 5 for i in range(200)], pa.int64())
        phys, short = "INT64", np.array([0, 1], np.int64)
    p = str(tmp_path / "dict.parquet")
    pq.write_table(pa.table({"c": arr}), p, use_dictionary=True)
    meta, buf = _dict_data_page_meta(p)
    with pytest.raises(ValueError, match="out of range"):
        pi._read_leaf_entries(buf, meta, phys, 0, 1, dict_values=short)
    with pytest.raises(ValueError, match="no dictionary page"):
        pi._read_leaf_entries(buf, meta, phys, 0, 1, dict_values=None)
