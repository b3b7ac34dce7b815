"""Column-chunk Statistics on exported parquet (ColumnMetaData field 12).

The reference writer (parquet-java ColumnWriterBase.finalizeColumnChunk /
pyarrow's writer) emits min_value/max_value/null_count per chunk plus a
TYPE_ORDER column_orders list, and reference readers prune row groups with
them.  These tests pin that our exported files carry the same statistics a
reference writer would produce for the same data, and that a reference
reader (DuckDB) actually prunes on them.
"""
import datetime
import decimal
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec.parquet_writer import (_encode_stats, _stats_truncated_max,
                                     _value_bounds, write_parquet)


def _stats(path, col_idx=0, rg=0):
    return pq.ParquetFile(path).metadata.row_group(rg).column(col_idx).statistics


def test_stats_match_reference_writer_per_group(tmp_path):
    """Differential: every row group's (min, max, null_count) equals what
    pyarrow's writer records for the same slices, across the type zoo."""
    rng = np.random.default_rng(7)
    n = 4_000
    ints = rng.integers(-10**9, 10**9, n)
    t = pa.table({
        "i": pa.array(np.where(rng.random(n) < 0.1, None, ints), pa.int64()),
        "f": pa.array(rng.normal(size=n), pa.float64()),
        "s": pa.array([f"url-{v:012d}" for v in rng.integers(0, 10**10, n)]),
        "ts": pa.array((rng.integers(0, 10**15, n)).astype("datetime64[us]")),
        "bo": pa.array(rng.random(n) < 0.5),
    })
    ours, refs = str(tmp_path / "o.parquet"), str(tmp_path / "r.parquet")
    write_parquet(t, ours, row_group_rows=1_000)
    pq.write_table(t, refs, row_group_size=1_000)
    mo, mr = pq.ParquetFile(ours).metadata, pq.ParquetFile(refs).metadata
    assert mo.num_row_groups == mr.num_row_groups == 4
    def _naive(v):
        # our TIMESTAMP_MICROS converted type implies adjustedToUTC, pyarrow
        # writes naive — values are identical, only tzinfo presence differs
        return v.replace(tzinfo=None) if isinstance(v, datetime.datetime) else v

    for rg in range(4):
        for ci in range(t.num_columns):
            so, sr = (m.row_group(rg).column(ci).statistics for m in (mo, mr))
            assert so.has_min_max and sr.has_min_max
            assert _naive(so.min) == _naive(sr.min), (rg, ci)
            assert _naive(so.max) == _naive(sr.max), (rg, ci)
            assert so.null_count == sr.null_count


def test_stats_decimal_and_date(tmp_path):
    t = pa.table({
        "d": pa.array([decimal.Decimal("-12.34"), decimal.Decimal("99.99"),
                       None, decimal.Decimal("0.01")], pa.decimal128(9, 2)),
        "dt": pa.array([datetime.date(2020, 5, 1), None,
                        datetime.date(1999, 1, 2), datetime.date(2024, 12, 31)]),
    })
    p = str(tmp_path / "d.parquet")
    write_parquet(t, p)
    sd = _stats(p, 0)
    assert (sd.min, sd.max) == (decimal.Decimal("-12.34"), decimal.Decimal("99.99"))
    assert sd.null_count == 1
    st = _stats(p, 1)
    assert (st.min, st.max) == (datetime.date(1999, 1, 2), datetime.date(2024, 12, 31))


def test_stats_float_nan_excluded_and_zero_widened(tmp_path):
    t = pa.table({"f": pa.array([float("nan"), 0.0, 5.5], pa.float64()),
                  "allnan": pa.array([float("nan")] * 3, pa.float64())})
    p = str(tmp_path / "f.parquet")
    write_parquet(t, p)
    s = _stats(p, 0)
    # NaN is not a bound; a zero bound is written as -0.0 (spec note)
    assert s.max == 5.5 and s.min == 0.0
    assert np.signbit(np.float64(s.min))
    assert not _stats(p, 1).has_min_max  # all-NaN chunk: bounds omitted


def test_stats_string_truncation_is_still_a_bound(tmp_path):
    lo, hi = "a" * 200, "m" * 100 + "z" * 100
    t = pa.table({"s": pa.array([lo, hi])})
    p = str(tmp_path / "s.parquet")
    write_parquet(t, p)
    s = _stats(p)
    assert len(s.min) <= 64 and len(s.max) <= 64
    assert s.min <= lo and s.max >= hi  # pyarrow decodes UTF8 stats to str


def test_stats_all_ff_max_omits_both_bounds(tmp_path):
    t = pa.table({"b": pa.array([b"\xff" * 100, b"\x00"], pa.binary())})
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p)
    s = _stats(p)
    assert not s.has_min_max  # no bounded upper exists after truncation
    assert s.null_count == 0


def test_truncated_max_helper():
    assert _stats_truncated_max(b"ab") == b"ab"
    t = _stats_truncated_max(b"a" * 63 + b"\xff" + b"qqq")
    assert t == b"a" * 62 + b"b"  # last non-ff byte incremented, tail dropped
    assert _stats_truncated_max(b"\xff" * 80) is None


def test_stats_nested_leaf_counts_missing_entries(tmp_path):
    t = pa.table({"ls": pa.array([[1, 2], [], None, [5, None]],
                                 pa.list_(pa.int64()))})
    p = str(tmp_path / "n.parquet")
    write_parquet(t, p)
    s = _stats(p)
    # entries missing at the leaf: empty list + null list + null element
    assert s.null_count == 3
    assert (s.min, s.max) == (1, 5)


def test_stats_empty_and_all_null_chunks(tmp_path):
    t = pa.table({"i": pa.array([None, None], pa.int64())})
    p = str(tmp_path / "e.parquet")
    write_parquet(t, p)
    s = _stats(p)
    assert s.null_count == 2 and not s.has_min_max


def test_geometry_columns_carry_no_plain_stats(tmp_path):
    wkb = bytes.fromhex("0101000000000000000000f03f0000000000000040")
    t = pa.table({"g": pa.array([wkb, wkb], pa.binary()),
                  "k": pa.array([1, 2], pa.int64())})
    p = str(tmp_path / "g.parquet")
    write_parquet(t, p, geometry_columns={"g": "OGC:CRS84"})
    # pyarrow 16 predates GEOMETRY and rejects the footer; DuckDB reads it
    con = duckdb.connect()
    rows = dict(con.execute(
        f"select path_in_schema, stats_max_value from parquet_metadata('{p}')"
    ).fetchall())
    assert rows["g"] is None  # geometry: undefined order, no plain stats
    assert rows["k"] is not None  # sibling unaffected


def test_duckdb_reads_same_stats_as_for_reference_file(tmp_path):
    n = 50_000
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                  "s": pa.array([f"x{i:06d}" for i in range(n)])})
    ours, refs = str(tmp_path / "o.parquet"), str(tmp_path / "r.parquet")
    write_parquet(t, ours, row_group_rows=10_000)
    pq.write_table(t, refs, row_group_size=10_000)
    con = duckdb.connect()
    q = ("select path_in_schema, row_group_id, stats_min_value, "
         "stats_max_value, stats_null_count from parquet_metadata('{}') "
         "order by path_in_schema, row_group_id")
    assert con.execute(q.format(ours)).fetchall() == \
        con.execute(q.format(refs)).fetchall()


def test_duckdb_prunes_row_groups_on_our_stats(tmp_path):
    n = 100_000
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64))})
    p = str(tmp_path / "m.parquet")
    write_parquet(t, p, row_group_rows=10_000)
    con = duckdb.connect()
    assert con.execute(
        f"select count(*) from read_parquet('{p}') where k = 55555"
    ).fetchone() == (1,)
    # in-range probe: zone maps cut the scan estimate to ~2 of 10 groups
    s = "".join(r[-1] for r in con.execute(
        f"explain analyze select count(*) from read_parquet('{p}') "
        "where k = 55555").fetchall())
    seg = s[s.find("READ_PARQUET"):]
    import re
    ec = int(re.search(r"EC: (\d+)", seg).group(1))
    assert ec <= 20_000, f"zone maps not applied (EC {ec})"
    # out-of-range probe: every group pruned
    assert con.execute(
        f"select count(*) from read_parquet('{p}') where k = -5"
    ).fetchone() == (0,)


def test_spark_reads_stats_annotated_export(tmp_path, spark):
    t = pa.table({"k": pa.array([3, 1, 2], pa.int64()),
                  "s": pa.array(["b", "a", "c"])})
    p = str(tmp_path / "sp.parquet")
    write_parquet(t, p)
    rows = spark.read.parquet(p).orderBy("k").collect()
    assert [(r.k, r.s) for r in rows] == [(1, "a"), (2, "c"), (3, "b")]


def test_chunk_stats_helper_float16_returns_none():
    arr = pa.array(np.array([1.5, 2.5], dtype=np.float16), pa.float16())
    assert _encode_stats(arr.type, *_value_bounds(arr), 0) is None


def test_chunk_stats_fold_equals_whole_leaf(tmp_path):
    """Chunk statistics are folded from the pages' raw bounds; on a chunk
    of several pages they equal the statistics of the whole leaf at once:
    NaN-only and +-0.0 pages for floats, >64-byte strings whose min and
    max sit in different pages (truncated min, round-up max), nulls."""
    from webcodec.parquet_interop import _data_pages, read_footer_native

    n = 160_000  # two ~1 MiB pages of doubles, a dozen of strings
    rng = np.random.default_rng(3)
    d = np.abs(rng.standard_normal(n)) + 1
    d[:60_000] = np.nan  # a whole page without a finite value
    d[70_000], d[150_000] = -0.0, 0.0
    s = [("m" * 70 + str(i)) if i % 9 else None for i in range(n)]
    s[25_000], s[135_000] = "a" * 80, "\U0010ffff" * 70
    t = pa.table({"d": pa.array(d), "s": pa.array(s),
                  "k": pa.array(rng.integers(-9, 9, n))})
    p = str(tmp_path / "fold.parquet")
    write_parquet(t, p, use_dictionary=False)
    ft = read_footer_native(p)
    for i, c in enumerate(t.column_names):
        m = ft["row_groups"][0][i]
        leaf = t[c].combine_chunks().drop_null()
        want = _encode_stats(leaf.type, *_value_bounds(leaf), t[c].null_count)
        assert len(_data_pages(ft["buf"], m, n)[2]) >= 2, c
        assert m.statistics["min_value"] == want["min"], c
        assert m.statistics["max_value"] == want["max"], c
        assert m.statistics["null_count"] == want["null_count"], c


def test_native_footer_parser_surfaces_statistics(tmp_path):
    import struct

    from webcodec import parquet_interop as pi

    t = pa.table({"k": pa.array([5, -3, None, 9], pa.int64()),
                  "s": pa.array(["b", "a", "c", None])})
    ours, refs = str(tmp_path / "o.parquet"), str(tmp_path / "r.parquet")
    write_parquet(t, ours)
    pq.write_table(t, refs)
    for p in (ours, refs):
        cms = pi.read_footer_native(p)["row_groups"][0]
        sk = cms[0].statistics
        assert struct.unpack("<q", sk["min_value"])[0] == -3
        assert struct.unpack("<q", sk["max_value"])[0] == 9
        assert sk["null_count"] == 1
        ss = cms[1].statistics
        assert (ss["min_value"], ss["max_value"]) == (b"a", b"c")
