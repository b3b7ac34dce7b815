"""fixed_size_binary(n) columns — parquet's FIXED_LEN_BYTE_ARRAY / UUID
storage type (SURVEY.md §1.2). Stored widened to variable BINARY (the
DELTA_LENGTH length stream RLEs away since every length equals n); the
footer-preserved arrow type restores fixed_size_binary[n] on decode —
the same stance as int8-over-INT32 widening (webcodec/types.py)."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig


def _uuids(n, seed=7):
    rng = np.random.default_rng(seed)
    return [bytes(rng.integers(0, 256, 16, dtype=np.uint8)) for _ in range(n)]


@pytest.mark.parametrize("profile", ["speed", "archive"])
def test_fsb_roundtrip_profiles(tmp_path, profile):
    t = pa.table({"u": pa.array(_uuids(500) + [None], pa.binary(16))})
    p = str(tmp_path / "u.wcd")
    filefmt.write_table(t, p, getattr(EncoderConfig, profile)())
    back = filefmt.read_table(p)
    assert back.schema.field("u").type == pa.binary(16)
    assert back.equals(t)


def test_fsb_nested_and_dictable(tmp_path):
    us = _uuids(8)
    t = pa.table({
        # low-cardinality fsb4 so the dictionary path triggers
        "f4": pa.array([us[i % 3][:4] for i in range(300)], pa.binary(4)),
        "lu": pa.array([[us[0], None], None, []] * 100, pa.list_(pa.binary(16))),
        "su": pa.array([{"id": us[1]}] * 300,
                       pa.struct([pa.field("id", pa.binary(16))])),
    })
    p = str(tmp_path / "n.wcd")
    filefmt.write_table(t, p)
    assert filefmt.read_table(p).equals(t)


def test_fsb_predicate_projection_and_rowops(tmp_path):
    us = _uuids(100)
    t = pa.table({"id": pa.array(range(100), pa.int64()),
                  "u": pa.array(us, pa.binary(16))})
    p = str(tmp_path / "p.wcd")
    filefmt.write_table(t, p, EncoderConfig.speed())
    got = filefmt.read_table(p, predicate=("u", "==", us[5]))
    assert got.num_rows == 1 and got.column("u")[0].as_py() == us[5]
    assert filefmt.read_table(p, columns=["u"]).equals(t.select(["u"]))
    assert filefmt.read_table(p, row_range=(10, 20)).equals(t.slice(10, 10))
    assert filefmt.read_table(p, drop_rows=np.array([0])).equals(t.slice(1, 99))


def test_fsb_parquet_export_flba(tmp_path):
    """Export emits true FLBA(n) leaves the reference reader types back as
    fixed_size_binary[n] — not variable BYTE_ARRAY."""
    from webcodec.parquet_writer import write_parquet

    us = _uuids(40)
    t = pa.table({"u": pa.array(us + [None], pa.binary(16)),
                  "lu": pa.array([[us[0][:8], None], None] + [[]] * 39,
                                 pa.list_(pa.binary(8)))})
    p = str(tmp_path / "x.parquet")
    write_parquet(t, p)
    back = pq.read_table(p)
    assert back.equals(t)
    md = pq.ParquetFile(p).metadata.schema.column(0)
    assert md.physical_type == "FIXED_LEN_BYTE_ARRAY" and md.length == 16


def test_fsb_interop_reader(tmp_path):
    from webcodec import parquet_interop as pi

    t = pa.table({"u": pa.array(_uuids(20) + [None], pa.binary(16))})
    p = str(tmp_path / "ref.parquet")
    pq.write_table(t, p)
    assert pi.read_table_arrow_native(p).equals(t)


def test_fsb_sliced_batches_no_segfault(tmp_path):
    """pyarrow 16.1.0's FSB->binary cast kernel segfaults on ANY non-zero
    array offset (record-batch boundaries produce exactly those slices);
    types.widen_array builds the binary array manually instead. This test
    crashed the interpreter before the workaround."""
    t = pa.table({"u": pa.array(_uuids(2500) + [None], pa.binary(16))})
    p = str(tmp_path / "b.wcd")
    filefmt.write_batches(
        iter(t.to_batches(max_chunksize=500)), p, EncoderConfig.speed(),
        group_target_bytes=1 << 12,
    )
    back = filefmt.read_table(p)
    assert back.column("u").combine_chunks().equals(t.column("u").combine_chunks())
    # direct slice through the helper, nulls included
    from webcodec.types import widen_array

    sl = t.column("u").combine_chunks().slice(501, 1000)
    out = widen_array(sl, pa.binary())
    assert out.type == pa.binary() and out.to_pylist() == sl.to_pylist()


def test_fsb_encrypted(tmp_path):
    key = bytes(range(32))
    t = pa.table({"u": pa.array(_uuids(50), pa.binary(16))})
    p = str(tmp_path / "e.wcd")
    filefmt.write_table(t, p, EncoderConfig(encryption_key=key))
    assert filefmt.read_table(p, encryption_key=key).equals(t)


def test_uuid_logical_annotation(tmp_path):
    """UUID logical type (parquet-format LogicalTypes.md; LogicalType union
    field 14) over FLBA(16): write_parquet(uuid_columns=...) annotates the
    leaf; pyarrow reads FSB(16), DuckDB reads real UUID values, and the
    interop reader round-trips. Non-FSB(16) columns are rejected."""
    import uuid as U

    import duckdb

    from webcodec import parquet_interop, parquet_writer

    vals = [U.uuid5(U.NAMESPACE_URL, f"u{i}").bytes for i in range(6)] + [None]
    t = pa.table({"u": pa.array(vals, pa.binary(16)),
                  "x": pa.array(range(7), pa.int64())})
    p = str(tmp_path / "u.parquet")
    parquet_writer.write_parquet(t, p, uuid_columns={"u"})
    back = pq.read_table(p)
    assert back.column("u").to_pylist() == vals
    assert "(UUID)" in str(pq.ParquetFile(p).schema) or "UUID" in str(
        pq.ParquetFile(p).schema)
    got = duckdb.sql(
        f"SELECT u FROM '{p}' WHERE u IS NOT NULL ORDER BY x").fetchall()
    assert [r[0].bytes for r in got] == vals[:6]
    ours = parquet_interop.read_table_arrow_native(p)
    assert ours.column("u").to_pylist() == vals
    with pytest.raises(TypeError, match="uuid column"):
        parquet_writer.write_parquet(
            pa.table({"u": pa.array([1], pa.int64())}),
            str(tmp_path / "bad.parquet"), uuid_columns={"u"})
