"""Predicate pushdown in the NATIVE interop reader (SURVEY §2 D2/D3 applied
across the interop boundary): ``read_table_arrow_native(path,
filters=[...])``
prunes row groups on chunk Statistics and pages on ColumnIndex/OffsetIndex —
the tiers parquet-java's StatisticsFilter + ColumnIndexFilter evaluate —
then re-applies the predicate exactly (webcodec.predicate.residual_filter),
so results match pyarrow reading the whole file and filtering in memory
while touching far fewer values. Differential inputs: pyarrow-written files
WITH page indexes (write_page_index=True), pyarrow files WITHOUT any
indexes/stats path variations, our own writer's exports (always carry
indexes), v2 pages, encrypted exports (page tier skipped, results exact),
and nulls/all-null groups."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.parquet_writer import write_parquet
from webcodec.predicate import _term_mask


def _table(n=120_000):
    rng = np.random.default_rng(7)
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "score": pa.array(rng.normal(size=n)),
        "lang": pa.array([None if i % 101 == 50 else
                          ("en", "de", "fr", "es", "zz")[i % 5]
                          for i in range(n)]),
        "url": pa.array([f"https://site{i % 997}.com/p/{i}"
                         for i in range(n)]),
        "ts": pa.array((np.arange(n) * 1_000_003).astype("datetime64[us]")),
    })


def _ref_filter(t, filters, cols=None):
    mask = None
    for c, op, v in filters:
        m = _term_mask(t.column(c), op, v)
        mask = m if mask is None else pc.and_kleene(mask, m)
    out = t.filter(mask)
    return out.select(cols) if cols else out


def _check(path, t, filters, cols=None):
    got = pi.read_table_arrow_native(path, cols, filters=filters)
    ref = _ref_filter(t, filters, cols)
    assert got.schema == ref.schema
    assert got.equals(ref), (filters, cols)
    return got


CASES = [
    ([("id", ">=", 61_000), ("id", "<", 61_200)], None),
    ([("id", "==", 59_999)], ["url", "lang"]),
    ([("lang", "==", "zz"), ("id", "<", 900)], None),
    ([("score", ">", 4.2)], ["id", "score"]),
    ([("id", "in", [3, 59_999, 60_001, 119_999])], ["id"]),
    ([("url", "startswith", "https://site11.com/")], ["url"]),
    ([("id", ">", 10**12)], None),  # nothing survives
    ([("lang", "isnull", None)], ["id"]),
    ([("lang", "notnull", None), ("id", "<=", 7)], None),
    ([("url", "contains", "site42.com")], ["id", "url"]),
]


@pytest.mark.parametrize("filters,cols", CASES)
def test_pyarrow_file_with_page_index(tmp_path, filters, cols):
    t = _table()
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=30_000, data_page_size=64 * 1024,
                   write_page_index=True, compression="zstd")
    _check(p, t, filters, cols)


def test_timestamp_filter_pyarrow_file(tmp_path):
    import datetime

    t = _table(40_000)
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=10_000, write_page_index=True)
    lo = datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=20_000)
    _check(p, t, [("ts", ">=", lo)], ["id", "ts"])


def test_pyarrow_file_without_page_index(tmp_path):
    """No ColumnIndex written: row-group tier still prunes, results exact."""
    t = _table(60_000)
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=10_000, write_page_index=False)
    _check(p, t, [("id", ">=", 55_000)], ["id"])
    _check(p, t, [("lang", "==", "de"), ("id", "<", 123)], None)


def test_own_writer_file(tmp_path):
    """Our own exports always carry stats + page indexes — both tiers."""
    t = _table(80_000)
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, row_group_rows=40_000)
    _check(p, t, [("id", ">=", 70_000), ("id", "<", 70_050)], None)
    _check(p, t, [("lang", "==", "zz"), ("id", "in", [4, 70_004])], ["url"])


def test_own_writer_v2_pages(tmp_path):
    t = _table(50_000)
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, row_group_rows=25_000, data_page_version=2)
    _check(p, t, [("id", "==", 49_999)], ["id", "lang"])


def test_page_pruning_actually_skips(tmp_path, monkeypatch):
    """A 100-row point probe on a 120k-row sorted column must DECODE far
    fewer values than the file holds (row-group tier alone would still
    decode 30k rows x 5 cols)."""
    t = _table()
    p = str(tmp_path / "t.parquet")
    # PLAIN encoding: dictionary-encoded chunks here fit one page, which
    # legitimately gives the page tier nothing to skip
    pq.write_table(t, p, row_group_size=30_000, data_page_size=16 * 1024,
                   write_page_index=True, use_dictionary=False)
    seen = []
    orig = pi._read_leaf_entries

    def counting(buf, meta, *a, **k):
        seen.append(meta.num_values)
        return orig(buf, meta, *a, **k)

    monkeypatch.setattr(pi, "_read_leaf_entries", counting)
    got = pi.read_table_arrow_native(p, filters=[("id", ">=", 61_000),
                                          ("id", "<", 61_100)])
    assert got.num_rows == 100
    decoded = sum(seen)
    # 5 columns x 120k rows = 600k values total; page pruning must keep
    # only the overlapping pages of ONE row group per column
    assert decoded < 60_000, decoded


def test_rg_pruning_skips_groups(tmp_path, monkeypatch):
    t = _table()
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=30_000, write_page_index=False)
    seen = []
    orig = pi._read_leaf_entries

    def counting(buf, meta, *a, **k):
        seen.append(meta.num_values)
        return orig(buf, meta, *a, **k)

    monkeypatch.setattr(pi, "_read_leaf_entries", counting)
    got = pi.read_table_arrow_native(p, ["url"], filters=[("id", "<", 100)])
    assert got.num_rows == 100
    # only the FIRST row group's url+id chunks decode: 2 x 30k
    assert sum(seen) == 60_000, seen


def test_encrypted_export_filters_exact(tmp_path):
    """Encrypted files skip the page tier (indexes are absent/encrypted)
    but filtered results stay exact via the residual filter."""
    t = _table(20_000)
    p = str(tmp_path / "enc.parquet")
    key = bytes(range(16))
    write_parquet(t, p, row_group_rows=10_000, encryption_key=key)
    got = pi.read_table_arrow_native(p, ["id", "lang"],
                              filters=[("id", ">=", 19_990)],
                              kms_unwrap=key)
    ref = _ref_filter(t, [("id", ">=", 19_990)], ["id", "lang"])
    assert got.equals(ref)


def test_all_null_group_value_probe(tmp_path):
    """A column that is ALL NULL in one row group: value probes prune it
    via null_count (min/max absent), isnull keeps it."""
    t = pa.table({
        "k": pa.array(list(range(2000)), pa.int64()),
        "v": pa.array([None] * 1000 + list(range(1000)), pa.int64()),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=1000, write_page_index=True)
    _check(p, t, [("v", ">=", 0)], ["k"])
    _check(p, t, [("v", "isnull", None)], ["k"])


def test_filter_column_validation(tmp_path):
    t = pa.table({"a": pa.array([1, 2], pa.int64()),
                  "s": pa.array([{"x": 1}, {"x": 2}],
                                pa.struct([("x", pa.int64())]))})
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p)
    with pytest.raises(KeyError, match="nope"):
        pi.read_table_arrow_native(p, filters=[("nope", "==", 1)])
    with pytest.raises(ValueError, match="nested"):
        pi.read_table_arrow_native(p, filters=[("s", "==", 1)])
    with pytest.raises(ValueError, match="unsupported predicate op"):
        pi.read_table_arrow_native(p, filters=[("a", "!=", 1)])


def test_nested_projection_with_flat_filter(tmp_path):
    """Filtering a flat column while projecting a NESTED one: the nested
    column decodes only its overlapping pages, rows stay aligned."""
    n = 30_000
    t = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "tags": pa.array([[f"t{i % 13}", f"u{i % 7}"] if i % 5 else None
                          for i in range(n)],
                         pa.list_(pa.string())),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=10_000, data_page_size=32 * 1024,
                   write_page_index=True)
    got = pi.read_table_arrow_native(p, filters=[("id", ">=", 14_000),
                                          ("id", "<", 14_200)])
    ref = _ref_filter(t, [("id", ">=", 14_000), ("id", "<", 14_200)])
    assert got.equals(ref)


@pytest.mark.parametrize("seed", range(8))
def test_filter_fuzz_vs_pyarrow(tmp_path, seed):
    """Random conjuncts over random layouts — pruning == brute force."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(5_000, 40_000))
    t = pa.table({
        "a": pa.array(rng.integers(-1000, 1000, n), pa.int64()),
        "b": pa.array([None if rng.random() < 0.05 else
                       f"k{int(v)}" for v in rng.integers(0, 50, n)]),
        "c": pa.array(rng.normal(size=n)),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=int(rng.integers(1_000, 8_000)),
                   data_page_size=int(rng.integers(4, 64)) * 1024,
                   write_page_index=bool(rng.random() < 0.7))
    ops = [("a", "==", int(rng.integers(-1000, 1000))),
           ("a", ">=", int(rng.integers(-1000, 1000))),
           ("a", "<", int(rng.integers(-1000, 1000))),
           ("b", "==", f"k{int(rng.integers(0, 50))}"),
           ("b", "notnull", None),
           ("c", ">", float(rng.normal())),
           ("a", "in", [int(v) for v in rng.integers(-1000, 1000, 5)])]
    k = int(rng.integers(1, 4))
    filters = [ops[i] for i in rng.choice(len(ops), k, replace=False)]
    _check(p, t, filters)


def test_corrupt_column_index_is_conservative(tmp_path):
    """A damaged ColumnIndex must not fail the read — the page tier skips
    it and results stay exact (review fix: KeyError escaped)."""
    t = _table(20_000)
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, row_group_size=10_000, data_page_size=8 * 1024,
                   write_page_index=True, use_dictionary=False)
    ft = pi.read_footer_native(p)
    m = ft["row_groups"][0][0]
    raw = bytearray(open(p, "rb").read())
    raw[m.column_index_offset] = 0x00  # empty struct: fields 2/3 missing
    open(p, "wb").write(bytes(raw))
    got = pi.read_table_arrow_native(p, ["id"], filters=[("id", "<", 50)])
    assert got.column("id").to_pylist() == list(range(50))


def test_corrupt_offset_index_is_conservative(tmp_path):
    """A damaged OffsetIndex on a projected column: that leaf decodes as one
    whole-chunk run trimmed to the kept rows, and the result stays exact."""
    t = _table(20_000)
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, data_page_size=8 * 1024, write_page_index=True,
                   use_dictionary=False)
    ft = pi.read_footer_native(p)
    off = ft["row_groups"][0][t.column_names.index("url")].offset_index_offset
    base = open(p, "rb").read()
    for pos, byte in ((off, 0), (off + 5, base[off + 5] ^ 0x01)):
        raw = bytearray(base)
        raw[pos] = byte  # the first byte zeroed, or one bit flipped at +5
        bad = str(tmp_path / "bad.parquet")
        open(bad, "wb").write(bytes(raw))
        got = pi.read_table_arrow_native(bad, ["url"],
                                         filters=[("id", "<", 50)])
        assert got.column("url").to_pylist() == \
            t.column("url").to_pylist()[:50]


def _nested_60k(tmp_path):
    n = 60_000
    t = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "tags": pa.array([None if i % 9 == 4 else
                          [f"t{i % 31}-{j}" for j in range(i % 4)]
                          for i in range(n)], pa.list_(pa.string())),
        "s": pa.array([None if i % 13 == 6 else
                       {"a": i, "xs": [i, i + 1] if i % 3 else []}
                       for i in range(n)],
                      pa.struct([("a", pa.int64()),
                                 ("xs", pa.list_(pa.int64()))])),
    })
    p = str(tmp_path / "n60k.parquet")
    pq.write_table(t, p, data_page_size=8 * 1024, write_batch_size=256,
                   write_page_index=True, use_dictionary=False)
    return p


def test_nested_projection_is_page_selective(tmp_path, monkeypatch):
    """Nested leaves under a selective flat filter decode only the pages
    that overlap kept rows: each leaf's entries map to rows through
    cumsum(rep == 0), so no nested chunk decodes whole."""
    p = _nested_60k(tmp_path)
    decoded: dict = {}
    orig = pi._read_leaf_entries

    def counting(buf, meta, *a, **k):
        out = orig(buf, meta, *a, **k)
        decoded[meta.path] = decoded.get(meta.path, 0) + len(out[2])
        return out

    monkeypatch.setattr(pi, "_read_leaf_entries", counting)
    chunks = {m.path: m.num_values
              for m in pi.read_footer_native(p)["row_groups"][0]}
    # one run of pages, then two runs far apart
    for flt, rows, share in (
            ([("id", ">=", 31_000), ("id", "<", 31_050)], 50, 0.05),
            ([("id", "in", [5_000, 55_000])], 2, 0.10)):
        decoded.clear()
        got = pi.read_table_arrow_native(p, filters=flt)
        want = pq.read_table(p, filters=flt)
        assert got.num_rows == rows
        assert got.equals(want)
        assert set(decoded) == set(chunks)
        for path, entries in decoded.items():
            assert entries <= share * chunks[path], (flt, path, entries)


_NESTED_SHAPES = {
    "list": lambda leaf: pa.list_(leaf),
    "struct": lambda leaf: pa.struct([("a", leaf), ("b", pa.int64())]),
    "map": lambda leaf: pa.map_(pa.string(), leaf),
    "list_struct": lambda leaf: pa.list_(
        pa.struct([("a", leaf), ("b", pa.int64())])),
    "struct_list": lambda leaf: pa.struct(
        [("a", pa.list_(leaf)), ("b", pa.int64())]),
}


@pytest.mark.parametrize("seed", range(8))
def test_nested_filter_fuzz_vs_pyarrow(tmp_path, seed):
    """Nested projections (with nulls and empty lists) under a flat filter
    over random layouts — pyarrow or our writer, v1 or v2 pages, page sizes
    down to a few rows, page index on or off — equal pyarrow's filtered
    read."""
    import random
    from unittest import mock

    from test_parquet_writer import _rand_nested_value

    from webcodec import parquet_writer

    py = random.Random(31_000 + seed)
    rng = np.random.default_rng(31_000 + seed)
    n = py.choice([1, 40, 700, 5_000])
    leaf = py.choice([pa.int64(), pa.string(), pa.float64(), pa.bool_()])
    cols = {"id": pa.array(np.arange(n), pa.int64())}
    for name in py.sample(sorted(_NESTED_SHAPES), py.randint(1, 3)):
        typ = _NESTED_SHAPES[name](leaf)
        cols[name] = pa.array([_rand_nested_value(py, rng, typ)
                               for _ in range(n)], typ)
    t = pa.table(cols)
    p = str(tmp_path / "t.parquet")
    version = py.choice([1, 2])
    page_bytes = py.choice([64, 512, 4096, 1 << 20])
    group_rows = py.choice([n, max(n // 3, 1)])
    if py.random() < 0.5:
        pq.write_table(t, p, data_page_version=f"{version}.0",
                       data_page_size=page_bytes,
                       write_batch_size=py.choice([8, 64, 1024]),
                       write_page_index=py.random() < 0.7,
                       use_dictionary=py.random() < 0.5,
                       row_group_size=group_rows)
    else:
        with mock.patch.object(parquet_writer, "_TARGET_PAGE_BYTES",
                               page_bytes):
            write_parquet(t, p, data_page_version=version,
                          row_group_rows=group_rows)
    lo = int(rng.integers(0, n))
    flt = py.choice([
        [("id", ">=", lo), ("id", "<", lo + int(rng.integers(1, 50)))],
        [("id", "==", lo)],
        [("id", "in", [int(v) for v in rng.integers(0, n, 4)])],
        [("id", ">", n - 1)],
    ])
    names = [c for c in t.column_names if c != "id" or py.random() < 0.5]
    got = pi.read_table_arrow_native(p, names, filters=flt)
    want = pq.read_table(p, columns=names, filters=flt)
    if got.schema != want.schema:
        got = got.cast(want.schema)
    assert got.equals(want), (seed, flt)


@pytest.mark.parametrize("lie", ["first_rows_halved", "offsets_one_late"])
def test_lying_offset_index_is_conservative(tmp_path, monkeypatch, lie):
    """An OffsetIndex that parses and is ordered but misstates its pages:
    first rows that disagree with the rows a run decodes, or page offsets
    that are no longer back to back. The leaf decodes whole and trims, and
    the result stays exact."""
    p = _nested_60k(tmp_path)
    orig = pi._parse_offset_index

    def lying(buf, meta):  # the filter column keeps its true index
        locs = orig(buf, meta)
        if meta.path == "id":
            return locs
        if lie == "first_rows_halved":
            return [(off, size, first // 2) for off, size, first in locs]
        return locs[:1] + [(off + 1, size, first)
                           for off, size, first in locs[1:]]

    monkeypatch.setattr(pi, "_parse_offset_index", lying)
    flt = [("id", ">=", 31_000), ("id", "<", 31_050)]
    got = pi.read_table_arrow_native(p, filters=flt)
    assert got.num_rows == 50
    assert got.equals(pq.read_table(p, filters=flt))


def test_row_group_row_count_mismatch_raises(tmp_path, monkeypatch):
    """A footer whose RowGroup.num_rows is one short of the rows its chunks
    hold: the last page run disagrees with its span, and the whole chunk
    then holds more rows than the group, which raises instead of dropping
    the last row."""
    t = _table(20_000)
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, data_page_size=8 * 1024, write_page_index=True,
                   use_dictionary=False)
    orig = pi.read_footer_native

    def one_short(path, **kw):
        ft = orig(path, **kw)
        ft["rg_rows"] = [n - 1 for n in ft["rg_rows"]]
        return ft

    monkeypatch.setattr(pi, "read_footer_native", one_short)
    with pytest.raises(ValueError, match="its row group"):
        pi.read_table_arrow_native(p, ["url"], filters=[("id", ">=", 19_990)])
