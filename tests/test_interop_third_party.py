"""Interop reader vs THIRD-PARTY writers beyond pyarrow/parquet-java:
DuckDB's own parquet writer (independent C++ implementation with its own
encoding choices) and pyarrow's non-compliant nested mode (list element
child named ``item``). Everything is compared schema- and value-exact
against pyarrow's read of the same bytes."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi


def _check(path):
    ref = pq.read_table(path)
    mine = pi.read_table_arrow_native(path)
    assert mine.schema == ref.schema
    assert mine.equals(ref)
    return mine


def test_duckdb_written_file(tmp_path):
    p = str(tmp_path / "duck.parquet")
    duckdb.sql(f"""
        copy (select range i, range * 1.5 x, 'row_' || range s,
                     case when range % 7 = 3 then null else range % 5 end n,
                     [range, range + 1] arr, {{'k': range, 'v': 'u' || range}} st
              from range(5000))
        to '{p}' (format parquet)
    """)
    t = _check(p)
    assert t.num_rows == 5000


@pytest.mark.parametrize("codec", ["snappy", "zstd", "gzip", "uncompressed"])
def test_duckdb_codecs(tmp_path, codec):
    p = str(tmp_path / f"duck_{codec}.parquet")
    duckdb.sql(f"""
        copy (select range i, 'v' || (range % 17) s from range(2000))
        to '{p}' (format parquet, compression '{codec}')
    """)
    _check(p)


def test_duckdb_int_backed_decimals(tmp_path):
    """DuckDB stores DECIMAL(p<=18) as INT32/INT64 physical with a DECIMAL
    annotation — the stored ints are UNSCALED and must not be value-cast."""
    p = str(tmp_path / "decint.parquet")
    duckdb.sql(f"""
        copy (select cast(range / 4.0 as decimal(8,2)) d4,
                     cast(range / 3.0 as decimal(17,5)) d8,
                     case when range % 5 = 2 then null
                          else cast(-range as decimal(4,1)) end dn
              from range(200))
        to '{p}' (format parquet)
    """)
    t = _check(p)
    import pyarrow as pa
    assert t.schema.field("d4").type == pa.decimal128(8, 2)
    assert str(t.column("d4")[4]) == "1.00"  # 4/4 = 1.00, not 100


def test_pyarrow_item_named_lists(tmp_path):
    """pyarrow's legacy (non-compliant) nested mode names the element child
    ``item``; the parsed schema must carry that name through."""
    p = str(tmp_path / "item.parquet")
    t = pa.table({
        "a": pa.array([[1, 2], None, [3], []], pa.list_(pa.int64())),
        "s": ["x", "y", None, "z"],
    })
    pq.write_table(t, p, use_compliant_nested_type=False, store_schema=False)
    mine = _check(p)
    assert mine.schema.field("a").type.value_field.name == "item"
