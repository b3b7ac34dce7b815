"""The `.wcd` Dremel layout: nested and decimal columns stored as Dremel
leaves (per leaf: bit-packed rep/def levels plus the valid values), cut at
shared top-level row boundaries so row ranges, deletes and predicates on
flat columns read only the pages that hold kept rows."""

import decimal
import io
import json
import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig

D = decimal.Decimal
N = 1100  # page_row_count_limit=7 meets the 256-row page floor: 5 pages


def _values(kind, n, rng):
    def maybe(v, p=0.1):
        return None if rng.random() < p else v

    if kind == "struct":
        return [maybe({"a": i, "b": maybe(f"s{i % 13}"), "c": maybe({"x": i / 3})})
                for i in range(n)]
    if kind == "map":
        return [maybe([(f"k{j}", maybe(int(rng.integers(0, 9)))) for j in range(i % 4)])
                for i in range(n)]
    if kind == "list_struct":
        return [maybe([maybe({"h": f"u{j}", "n": maybe(j)}) for j in range(i % 4)])
                for i in range(n)]
    if kind == "list_list_int32":
        return [maybe([maybe(list(range(j))) for j in range(i % 4)]) for i in range(n)]
    if kind == "list_map":
        return [maybe([maybe([("k", maybe(j)), ("z", j)]) for j in range(i % 3)])
                for i in range(n)]
    if kind == "list_string":
        return [maybe([maybe(f"w{j}") for j in range(i % 5)]) for i in range(n)]
    if kind == "decimal128":
        return [maybe(D(int(rng.integers(-10**12, 10**12))).scaleb(-2)) for _ in range(n)]
    if kind == "decimal256":
        return [maybe(D(int(rng.integers(-10**9, 10**9)) * 10**40 + i).scaleb(-2))
                for i in range(n)]
    if kind == "list_decimal256":
        return [maybe([maybe(D(-(10**35) + j * i).scaleb(-3)) for j in range(i % 3)])
                for i in range(n)]
    if kind == "non_nullable":
        return [maybe({"a": i, "l": [j for j in range(i % 3)]}) for i in range(n)]
    raise AssertionError(kind)


TYPES = {
    "struct": pa.struct([("a", pa.int64()), ("b", pa.string()),
                         ("c", pa.struct([("x", pa.float64())]))]),
    "map": pa.map_(pa.string(), pa.int64()),
    "list_struct": pa.list_(pa.struct([("h", pa.string()), ("n", pa.int32())])),
    "list_list_int32": pa.list_(pa.list_(pa.int32())),
    "list_map": pa.list_(pa.map_(pa.string(), pa.int32())),
    "list_string": pa.list_(pa.string()),
    "decimal128": pa.decimal128(20, 2),
    "decimal256": pa.decimal256(60, 2),
    "list_decimal256": pa.list_(pa.decimal256(45, 3)),
    "non_nullable": pa.struct([
        pa.field("a", pa.int64(), nullable=False),
        pa.field("l", pa.list_(pa.field("item", pa.int32(), nullable=False)),
                 nullable=False),
    ]),
}


def _table(kind):
    rng = np.random.default_rng(sorted(TYPES).index(kind))
    return pa.table({"id": pa.array(np.arange(N), pa.int64()),
                     "v": pa.array(_values(kind, N, rng), TYPES[kind])})


def _write(t, **kw):
    buf = io.BytesIO()
    footer = filefmt.write_table(t, buf, EncoderConfig(page_row_count_limit=7, **kw))
    return buf.getvalue(), footer


def _leaf_chunks(footer, col):
    return [c for c in footer["chunks"] if c["name"].startswith(col + "\x1f")]


def _pages_read(monkeypatch, fn):
    seen = []
    orig = filefmt._read_page

    def spy(buf, offset, *a, **kw):
        seen.append(offset)
        return orig(buf, offset, *a, **kw)

    monkeypatch.setattr(filefmt, "_read_page", spy)
    try:
        return fn(), set(seen)
    finally:
        monkeypatch.setattr(filefmt, "_read_page", orig)


def _expected_offsets(footer, col, keep):
    """Page (and dictionary page) offsets of ``col``'s leaves holding a kept row."""
    out = set()
    for c in _leaf_chunks(footer, col):
        pages = [p for p in c["pages"]
                 if keep[p["first_row"] : p["first_row"] + p["n_rows"]].any()]
        out |= {p["offset"] for p in pages}
        if pages and c.get("dict"):
            out.add(c["dict"]["offset"])
    return out


@pytest.mark.parametrize("kind", sorted(TYPES))
def test_dremel_column_reads(kind, monkeypatch):
    t = _table(kind)
    data, footer = _write(t)
    col = next(c for c in footer["chunks"] if c["name"] == "v")
    assert col["pages"] == [] and "encoded_bytes" in col and "stats" in col
    leaves = _leaf_chunks(footer, "v")
    assert leaves and all(len(c["pages"]) == 5 for c in leaves)

    back = filefmt.read_table(data)
    assert back.equals(t) and back.schema.equals(t.schema)

    keep = np.zeros(N, bool)
    keep[300:700] = True
    got, seen = _pages_read(monkeypatch, lambda: filefmt.read_table(
        data, columns=["v"], row_range=(300, 700)))
    assert got.equals(t.select(["v"]).slice(300, 400))
    assert seen == _expected_offsets(footer, "v", keep)

    drop = np.random.default_rng(1).choice(N, 60, replace=False)
    live = np.ones(N, bool)
    live[drop] = False
    assert filefmt.read_table(data, drop_rows=drop).equals(t.filter(pa.array(live)))

    keep = np.zeros(N, bool)
    keep[600:650] = True
    got, seen = _pages_read(monkeypatch, lambda: filefmt.read_table(
        data, columns=["v"], predicate=[("id", ">=", 600), ("id", "<", 650)]))
    assert got.equals(t.select(["v"]).slice(600, 50))
    assert _expected_offsets(footer, "v", keep) <= seen
    assert not seen & (_expected_offsets(footer, "v", np.ones(N, bool))
                       - _expected_offsets(footer, "v", keep))

    # a null test on the Dremel column next to a pruning flat term
    got = filefmt.read_table(data, predicate=[("id", ">=", 600), ("v", "isnull", None)])
    tail = t.slice(600)
    assert got.equals(tail.filter(tail["v"].is_null()))


@pytest.mark.parametrize("codec", ["none", "zstd"])
def test_cut_leaf_page_raises_value_error(codec):
    """A nested leaf page whose payload is cut at any byte (its header's
    compressed size rewritten; the rest of the file intact) must raise
    ValueError, never return rows or leak another error."""
    t = _table("list_struct").slice(0, 300)
    data, footer = _write(t, compression=codec)
    page = _leaf_chunks(footer, "v")[0]["pages"][0]
    csize = page["compressed_size"]
    for k in range(csize):
        cut = bytearray(data)
        struct.pack_into("<I", cut, page["offset"] + 16, k)
        with pytest.raises(ValueError):
            filefmt.read_table(bytes(cut), verify_crc=False)


@pytest.mark.parametrize("dt", [pa.decimal256(20, 2), pa.decimal256(50, 2)])
def test_decimal256_roundtrip(dt):
    big = "9" * (dt.precision - 2) + ".99"
    vals = [D("1.25"), None, D("-3.5"), D(big), D("-" + big)]
    t = pa.table({"d": pa.array(vals, dt),
                  "l": pa.array([vals, None, [], vals[::-1], [None]], pa.list_(dt))})
    data, _ = _write(t)
    back = filefmt.read_table(data)
    assert back.equals(t) and back.schema.equals(t.schema)


def test_missing_column_raises_value_error():
    data, _ = _write(_table("list_string").slice(0, 20))
    for kw in ({"columns": ["nope"]}, {"columns": ["nope"], "row_range": (5, 5)}):
        with pytest.raises(ValueError, match="'nope'"):
            filefmt.read_table(data, **kw)


def _with_footer(data: bytes, edit) -> bytes:
    flen = struct.unpack("<I", data[-12:-8])[0]
    footer = json.loads(data[-12 - flen : -12])
    edit(footer)
    fj = json.dumps(footer).encode()
    return (data[: -12 - flen] + fj + struct.pack("<II", len(fj), zlib.crc32(fj))
            + filefmt.MAGIC)


@pytest.mark.parametrize("shape", ["child_chunks", "list_phys"])
def test_retired_nested_layout_raises(shape):
    """Footers of the shape-specific nested layouts (a BOOL parent entry
    holding the validity, with ``<col>\x1f...`` child chunks) and of the
    generic list container (phys 10) must raise, not decode as flat
    columns."""
    data, _ = _write(pa.table({"x": pa.array([True, None, False])}))

    def edit(footer):
        if shape == "list_phys":
            footer["chunks"][0]["phys"] = 10
        else:
            footer["chunks"].append(dict(footer["chunks"][0], name="x\x1f#lo"))

    old = _with_footer(data, edit)
    for kw in ({}, {"predicate": ("x", "isnull", None)}, {"row_range": (3, 3)}):
        with pytest.raises(ValueError, match="re-encode"):
            filefmt.read_table(old, **kw)


def test_null_tests_on_dremel_columns_are_exact():
    t = pa.table({"l": pa.array([[1, 2], None, [], [None], [3]], pa.list_(pa.int64())),
                  "d": pa.array([D("1.5"), None, None, D("2"), D("0")], pa.decimal128(5, 2))})
    data, _ = _write(t)
    for col, op, rows in (("l", "isnull", [1]), ("l", "notnull", [0, 2, 3, 4]),
                          ("d", "isnull", [1, 2]), ("d", "notnull", [0, 3, 4])):
        got = filefmt.read_table(data, predicate=(col, op, None))
        assert got.equals(t.take(pa.array(rows))), (col, op)
    for col in ("l", "d"):
        with pytest.raises(ValueError, match="nested/decimal columns unsupported"):
            filefmt.read_table(data, predicate=(col, "==", 1))


def test_non_nullable_field_holding_nulls_rejected():
    arr = pa.StructArray.from_arrays(
        [pa.array([1, None, 3], pa.int64())],
        fields=[pa.field("a", pa.int64(), nullable=False)])
    with pytest.raises(ValueError, match="non-nullable field"):
        _write(pa.table({"s": arr}))
