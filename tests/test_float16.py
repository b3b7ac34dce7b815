"""Float16 logical-type parity (SURVEY §1.2: parquet-format
LogicalTypes.md FLOAT16 = FLBA(2) little-endian IEEE half; parquet-java
LogicalTypeAnnotation.Float16LogicalTypeAnnotation).

Spark SQL has no half-float type (spark.read.parquet rejects
FLOAT16-annotated files outright), so — like the engine's own storage,
which widens f16 on write and restores the variant on decode — Float16
rides the Arrow-level surfaces: filefmt round-trip, parquet export
(webcodec.parquet_writer), and parquet interop read
(webcodec.parquet_interop). The reference reader here is pyarrow."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt, parquet_interop, parquet_writer
from webcodec.config import EncoderConfig


def _f16(vals):
    return pa.array([None if v is None else np.float16(v) for v in vals],
                    pa.float16())


FLAT = _f16([0.5, -1.25, 65504.0, 6.1e-5, 0.0, None, float("nan"), -0.0])


def _assert_f16_equal(a: pa.ChunkedArray | pa.Array, b):
    """Bitwise equality incl. NaN/-0.0: compare the u16 payloads."""
    a = pa.chunked_array([a]) if isinstance(a, pa.Array) else a
    b = pa.chunked_array([b]) if isinstance(b, pa.Array) else b
    la, lb = a.to_pylist(), b.to_pylist()
    assert len(la) == len(lb)
    for x, y in zip(la, lb):
        assert (x is None) == (y is None)
        if x is not None:
            assert np.float16(x).tobytes() == np.float16(y).tobytes()


def test_own_engine_roundtrip(tmp_path):
    t = pa.table({"f16": FLAT, "id": pa.array(range(8), pa.int64())})
    p = str(tmp_path / "a.wcd")
    filefmt.write_table(t, p, EncoderConfig.speed())
    back = filefmt.read_table(p)
    assert back.schema.field("f16").type == pa.float16()
    _assert_f16_equal(back.column("f16"), t.column("f16"))


def test_export_flat_and_nested(tmp_path):
    t = pa.table({
        "f16": FLAT,
        "f16l": pa.array(
            [[np.float16(1.5), None]] * 4 + [None, [], [np.float16(-2.0)],
                                             [np.float16(7.0)]],
            pa.list_(pa.float16())),
        "s": pa.array([f"r{i}" for i in range(8)]),
    })
    p = str(tmp_path / "e.parquet")
    parquet_writer.write_parquet(t, p)
    back = pq.read_table(p)
    assert back.schema.field("f16").type == pa.float16()
    assert back.schema.field("f16l").type == pa.list_(pa.float16())
    _assert_f16_equal(back.column("f16"), t.column("f16"))
    assert back.column("f16l").to_pylist() == t.column("f16l").to_pylist()
    assert back.column("s").to_pylist() == t.column("s").to_pylist()
    # footer carries the FLOAT16 logical annotation (not just FLBA(2))
    md = pq.ParquetFile(p).schema_arrow
    assert md.field("f16").type == pa.float16()


@pytest.mark.parametrize("version", ["1.0", "2.6"])
@pytest.mark.parametrize("use_dictionary", [False, True])
def test_interop_read_reference_files(tmp_path, version, use_dictionary):
    t = pa.table({
        "f16": pa.chunked_array([FLAT] * 2),
        "f16l": pa.array(
            ([[np.float16(1.5), None], None, [], [np.float16(3.0)]] * 4),
            pa.list_(pa.float16())),
    })
    p = str(tmp_path / "ref.parquet")
    pq.write_table(t, p, version=version, use_dictionary=use_dictionary)
    ours = parquet_interop.read_table_arrow_native(p)
    ref = pq.read_table(p)
    assert ours.schema == ref.schema
    _assert_f16_equal(ours.column("f16"), ref.column("f16"))
    assert ours.column("f16l").to_pylist() == ref.column("f16l").to_pylist()


def test_own_writer_to_own_reader(tmp_path):
    t = pa.table({"f16": FLAT})
    p = str(tmp_path / "own.parquet")
    parquet_writer.write_parquet(t, p)
    ours = parquet_interop.read_table_arrow_native(p)
    _assert_f16_equal(ours.column("f16"), t.column("f16"))
