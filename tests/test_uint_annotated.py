"""uint64 storage + annotated-integer parquet export (SURVEY §1.2:
parquet-format LogicalTypes.md INT(bitWidth, isSigned); ConvertedType
INT_8/INT_16/UINT_8/UINT_16/UINT_32/UINT_64).

uint64 closes the engine's last integer gap: values travel as a BIT
REINTERPRET into the int64 lane (types._reinterpret64 — a checked cast
would overflow for values >= 2^63), page/chunk stats are computed in the
unsigned domain (stats.page_stats unsigned64=...), and predicates compare
unsigned end-to-end (typed scalars in predicate._term_mask, original-domain
dictionary probes in filefmt._values_in_dict). Export writes every
annotated integer width; pyarrow, DuckDB and our own native-footer interop
reader all round-trip them bit-exact."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt, parquet_interop, parquet_writer
from webcodec.config import EncoderConfig

U64_EDGE = [1, 2**63, 2**64 - 1, None, 0, 2**63 - 1, 12345]

INTS = pa.table({
    "i8": pa.array([1, -128, 127, None], pa.int8()),
    "i16": pa.array([1, -32768, 32767, None], pa.int16()),
    "u8": pa.array([0, 255, 7, None], pa.uint8()),
    "u16": pa.array([0, 65535, 9, None], pa.uint16()),
    "u32": pa.array([0, 2**32 - 1, 2**31, None], pa.uint32()),
    "u64": pa.array([0, 2**64 - 1, 2**63, None], pa.uint64()),
})


def _col(t, name):
    return t.column(name).combine_chunks()


@pytest.mark.parametrize("cfg", [EncoderConfig(), EncoderConfig.speed(),
                                 EncoderConfig(use_dictionary=True)])
def test_engine_uint64_roundtrip(tmp_path, cfg):
    t = pa.table({"u": pa.array(U64_EDGE, pa.uint64())})
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(t, p, cfg)
    back = filefmt.read_table(p)
    assert back.schema.field("u").type == pa.uint64()
    assert back.column("u").to_pylist() == U64_EDGE


def test_engine_uint64_stats_unsigned_domain(tmp_path):
    t = pa.table({"u": pa.array(U64_EDGE, pa.uint64())})
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(t, p, EncoderConfig())
    ch = [c for c in filefmt.read_footer_path(p)["chunks"] if c["name"] == "u"][0]
    assert ch["stats"]["min"] == 0
    assert ch["stats"]["max"] == 2**64 - 1


def test_engine_uint64_predicates_cross_sign_boundary(tmp_path):
    import numpy as np
    vals = np.arange(50_000, dtype=np.uint64) + np.uint64(2**63 - 25_000)
    t = pa.table({"u": pa.array(vals, pa.uint64())})
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(t, p, EncoderConfig(page_row_count_limit=7000))
    assert len(filefmt.read_table(p, predicate=[("u", ">=", 2**63)])) == 25_000
    assert filefmt.read_table(p).column("u").combine_chunks().equals(
        t.column("u").combine_chunks())


def test_engine_uint64_dict_pruning_exact(tmp_path):
    vals = [2**63 + (i % 4) for i in range(5000)]
    t = pa.table({"u": pa.array(vals, pa.uint64())})
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(t, p, EncoderConfig(use_dictionary=True))
    assert len(filefmt.read_table(p, predicate=[("u", "==", 2**63 + 2)])) == 1250
    assert len(filefmt.read_table(p, predicate=[("u", "==", 2**63 + 9)])) == 0
    assert len(filefmt.read_table(
        p, predicate=[("u", "in", [2**63, 2**64 - 1])])) == 1250


def test_export_annotated_ints_pyarrow(tmp_path):
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(INTS, p)
    back = pq.read_table(p)
    for name in INTS.column_names:
        assert back.schema.field(name).type == INTS.schema.field(name).type
        assert _col(back, name) == _col(INTS, name)


def test_export_annotated_ints_duckdb(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(INTS, p)
    rows = duckdb.sql(
        f"SELECT u64, u32, i8 FROM read_parquet('{p}') ORDER BY u64 NULLS LAST"
    ).fetchall()
    assert rows[-2] == (2**64 - 1, 2**32 - 1, -128)
    assert rows[1] == (2**63, 2**31, 127)


@pytest.mark.parametrize("kw", [{}, {"data_page_version": 2},
                                {"row_group_rows": 2}])
def test_interop_reads_own_annotated_ints(tmp_path, kw):
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(INTS, p, **kw)
    back = parquet_interop.read_table_arrow_native(p)
    for name in INTS.column_names:
        assert back.schema.field(name).type == INTS.schema.field(name).type
        assert _col(back, name) == _col(INTS, name)


def test_interop_reads_pyarrow_annotated_ints(tmp_path):
    p = str(tmp_path / "ref.parquet")
    pq.write_table(INTS, p)
    back = parquet_interop.read_table_arrow_native(p)
    for name in INTS.column_names:
        assert back.schema.field(name).type == INTS.schema.field(name).type
        assert _col(back, name) == _col(INTS, name)


def test_export_uint64_delta_encoding(tmp_path):
    t = pa.table({"u64": pa.array([2**63, 2**63 + 5, 2**63 + 9], pa.uint64())})
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(t, p, column_encoding={"u64": "delta_binary_packed"})
    assert _col(pq.read_table(p), "u64") == _col(t, "u64")
