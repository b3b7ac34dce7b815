"""Time-of-day / duration logical types (SURVEY §1.2: parquet-format
LogicalTypes.md TIME = INT32(millis) / INT64(micros|nanos) with
TimeType{isAdjustedToUTC, unit}; parquet-java
LogicalTypeAnnotation.TimeLogicalTypeAnnotation; ConvertedType
TIME_MILLIS=7 / TIME_MICROS=8 for legacy readers).

Storage follows the engine's widening stance: arrow time32 -> INT32,
time64/duration -> INT64, the footer-preserved original type restores the
unit on decode (webcodec.types.widened). Spark 4.1's TimeType travels over
the Arrow bridge as time64[ns], so the Spark path needs no special kernels.
parquet has no TIME(SECONDS) and no DURATION annotation: export pre-casts
time32[s] -> time32[ms] and stores duration as plain INT64 (pyarrow's own
stance)."""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt, parquet_interop, parquet_writer
from webcodec.config import EncoderConfig

TIMES = pa.table({
    "t32s": pa.array([1, 2, None, 86399], pa.time32("s")),
    "t32ms": pa.array([1000, 2000, None, 86399999], pa.time32("ms")),
    "t64us": pa.array([1, 2, 3, None], pa.time64("us")),
    "t64ns": pa.array([10, 20, 30, None], pa.time64("ns")),
    "dur": pa.array([-5, 0, None, 7_000_000], pa.duration("us")),
})


def _col(t, name):
    return t.column(name).combine_chunks()


def test_engine_roundtrip_all_units(tmp_path):
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(TIMES, p, EncoderConfig())
    back = filefmt.read_table(p)
    assert back.schema == TIMES.schema
    assert back.equals(TIMES)


def test_engine_roundtrip_speed_profile(tmp_path):
    p = str(tmp_path / "t.wcd")
    filefmt.write_table(TIMES, p, EncoderConfig.speed())
    assert filefmt.read_table(p).equals(TIMES)


def test_export_parquet_reference_reader(tmp_path):
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(TIMES, p)
    back = pq.read_table(p)
    # time32[s] has no parquet encoding: lands as TIME(MILLIS), values *1000
    assert back.schema.field("t32s").type == pa.time32("ms")
    assert _col(back, "t32s") == _col(TIMES, "t32s").cast(pa.time32("ms"))
    for name in ("t32ms", "t64us", "t64ns"):
        assert back.schema.field(name).type == TIMES.schema.field(name).type
        assert _col(back, name) == _col(TIMES, name)
    # duration: plain INT64, no annotation exists
    assert back.schema.field("dur").type == pa.int64()
    assert _col(back, "dur") == _col(TIMES, "dur").cast(pa.int64())


def test_export_duckdb_reads_times(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(TIMES, p)
    rows = duckdb.sql(
        f"SELECT t32ms, t64us FROM read_parquet('{p}') ORDER BY t64us NULLS LAST"
    ).fetchall()
    assert rows[0] == (datetime.time(0, 0, 1), datetime.time(0, 0, 0, 1))
    assert rows[-1][1] is None


@pytest.mark.parametrize("kw", [
    {"column_encoding": {"t64us": "delta_binary_packed"}},
    {"data_page_version": 2},
    {"use_dictionary": True, "row_group_rows": 2},
])
def test_export_encoding_variants(tmp_path, kw):
    p = str(tmp_path / "t.parquet")
    parquet_writer.write_parquet(TIMES, p, **kw)
    back = pq.read_table(p)
    for name in ("t32ms", "t64us", "t64ns"):
        assert _col(back, name) == _col(TIMES, name)


def test_interop_reads_pyarrow_times(tmp_path):
    t = TIMES.drop_columns(["t32s", "dur"])  # pyarrow writes these two back
    p = str(tmp_path / "ref.parquet")
    pq.write_table(t, p)
    back = parquet_interop.read_table_arrow_native(p)
    for name in t.column_names:
        assert back.schema.field(name).type == t.schema.field(name).type
        assert _col(back, name) == _col(t, name)


def test_interop_reads_own_export(tmp_path):
    p = str(tmp_path / "own.parquet")
    parquet_writer.write_parquet(TIMES.drop_columns(["t32s", "dur"]), p)
    back = parquet_interop.read_table_arrow_native(p)
    for name in ("t32ms", "t64us", "t64ns"):
        assert _col(back, name) == _col(TIMES, name)


def test_nested_time32_seconds_raises(tmp_path):
    t = pa.table({"s": pa.array([[1]], pa.list_(pa.time32("s")))})
    with pytest.raises(TypeError, match="time32"):
        parquet_writer.write_parquet(t, str(tmp_path / "x.parquet"))


def test_datasource_and_compact_keep_timetype(spark, tmp_path):
    from pyspark.sql import types as T

    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.maintenance import compact

    spark.dataSource.register(WebcodecDataSource)
    rows = [(i, datetime.time(i % 24, i % 60, i % 60, i * 13 % 1_000_000)
             if i % 4 else None) for i in range(300)]
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("tod", T.TimeType())])
    df = spark.createDataFrame(rows, schema)
    d = str(tmp_path / "t")
    df.write.format("webcodec").mode("append").option("path", d).save()
    back = spark.read.format("webcodec").option("path", d).load()
    assert back.schema.simpleString() == "struct<id:bigint,tod:time(6)>"
    assert {r["id"]: r["tod"] for r in back.collect()} == dict(rows)
    compact(d, target_bytes=1 << 30)
    back2 = spark.read.format("webcodec").option("path", d).load()
    assert {r["id"]: r["tod"] for r in back2.collect()} == dict(rows)


def test_time_predicate_safe_and_exact(spark, tmp_path):
    """A time-valued predicate must return exact rows. Stats pruning has no
    unit context for TIME (stats store the widened int in the original
    unit), so term_matches falls back to no-prune (TypeError -> True) and
    the residual filter does the exact compare — safety pinned here."""
    from pyspark.sql import types as T

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    rows = [(i, datetime.time(i % 24, 0, 0)) for i in range(200)]
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("tod", T.TimeType())])
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "t")
    encode_table(df, out, write_metrics=False)
    got = read_encoded(
        spark, out, predicate=[("tod", ">=", datetime.time(20, 0, 0))]
    ).collect()
    exp = {i for i, t in rows if t >= datetime.time(20, 0, 0)}
    assert {r["id"] for r in got} == exp


def test_spark_timetype_end_to_end(spark, tmp_path):
    from pyspark.sql import types as T

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    rows = [(i, datetime.time((i * 7) % 24, (i * 13) % 60, i % 60,
                              (i * 1111) % 1_000_000) if i % 5 else None)
            for i in range(200)]
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("tod", T.TimeType())])
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "t")
    encode_table(df, out, write_metrics=False)
    back = read_encoded(spark, out)
    assert back.schema.simpleString() == "struct<id:bigint,tod:time(6)>"
    assert {r["id"]: r["tod"] for r in back.collect()} == dict(rows)
