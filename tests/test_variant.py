"""Spark 4 VariantType end-to-end (SURVEY §1.2 Variant logical annotation;
parquet-format VariantEncoding.md).

Spark hands variant columns to Python data sources as
struct<value: binary, metadata: binary> over Arrow (field metadata
``variant: 'true'``); the engine shreds that struct like any other, the
snapshot schema records the Spark type string ``variant``, and the
DataSource read path restores the true VariantType. export_parquet emits
those columns as VARIANT(1)-annotated groups (LogicalType union field 16 +
specification_version=1) that Spark's own parquet reader restores — pyarrow
16.1 cannot parse the VARIANT thrift annotation at all (it rejects even
Spark's own variant files), so Spark is the reference reader here."""

import os

import pyarrow as pa
import pytest

from webcodec import parquet_writer


def _variant_df(spark, n=20, null_every=4):
    from pyspark.sql import functions as F

    v = F.parse_json(
        F.format_string('{"k": %d, "s": "t%d", "nested": {"x": %d}}',
                        "id", "id", "id"))
    return spark.range(n).select(
        "id",
        F.when(F.col("id") % null_every != 0, v).alias("v"),
    )


def _register(spark):
    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)


@pytest.mark.spark
def test_datasource_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    _register(spark)
    df = _variant_df(spark)
    out = str(tmp_path / "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    back = spark.read.format("webcodec").option("path", out).load()
    assert dict(back.dtypes)["v"] == "variant"
    got = {
        r.id: (r.k, r.s, r.x)
        for r in back.select(
            "id",
            F.variant_get("v", "$.k", "long").alias("k"),
            F.variant_get("v", "$.s", "string").alias("s"),
            F.variant_get("v", "$.nested.x", "long").alias("x"),
        ).collect()
    }
    assert len(got) == 20
    for i in range(20):
        if i % 4 == 0:
            assert got[i] == (None, None, None)
        else:
            assert got[i] == (i, f"t{i}", i)


@pytest.mark.spark
def test_export_parquet_variant_annotation(spark, tmp_path):
    from pyspark.sql import functions as F

    from webcodec.spark.maintenance import export_parquet

    _register(spark)
    df = _variant_df(spark, n=12)
    out = str(tmp_path / "t")
    df.write.format("webcodec").mode("append").option("path", out).save()
    exp = str(tmp_path / "exp")
    res = export_parquet(spark, out, exp)
    assert res["rows"] == 12
    back = spark.read.parquet(exp)
    assert dict(back.dtypes)["v"] == "variant"
    got = {
        r.id: r.k
        for r in back.select(
            "id", F.variant_get("v", "$.k", "long").alias("k")).collect()
    }
    assert got == {i: (None if i % 4 == 0 else i) for i in range(12)}
    # footer carries VARIANT(1): parquet-java (via Spark's JVM) sees the
    # logical annotation, not a plain struct group
    import glob

    f = glob.glob(os.path.join(exp, "*.parquet"))[0]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, jvm.org.apache.hadoop.fs.Path(f))
    schema_str = footer.getFileMetaData().getSchema().toString()
    assert "VARIANT" in schema_str


def test_write_parquet_rejects_wrong_shape(tmp_path):
    t = pa.table({"v": pa.array([1, 2, 3], pa.int64())})
    with pytest.raises(TypeError, match="variant column"):
        parquet_writer.write_parquet(
            t, str(tmp_path / "x.parquet"), variant_columns={"v"})


def test_native_interop_reads_variant_export(tmp_path):
    """The native-footer interop reader decodes VARIANT-annotated files
    that pyarrow's thrift layer rejects outright — variant columns come
    back as their storage struct<value, metadata>."""
    import pyarrow.parquet as pq

    from webcodec import parquet_interop

    t = pa.table({
        "id": pa.array(range(4), pa.int64()),
        "v": pa.array(
            [{"value": b"\x0c\x01", "metadata": b"\x01\x00\x00"}, None] * 2,
            pa.struct([("value", pa.binary()), ("metadata", pa.binary())])),
    })
    p = str(tmp_path / "v.parquet")
    parquet_writer.write_parquet(t, p, variant_columns={"v"})
    with pytest.raises(Exception, match="Thrift|thrift"):
        pq.read_table(p)  # the reference reader cannot even parse the footer
    ours = parquet_interop.read_table_arrow_native(p)
    assert ours.column("id").to_pylist() == [0, 1, 2, 3]
    assert ours.column("v").to_pylist() == t.column("v").to_pylist()


@pytest.mark.spark
def test_streaming_sink_variant(spark, tmp_path):
    """Variant columns flow through the streaming SINK: parse_json inside a
    file-stream pipeline, one snapshot per microbatch, variant restored on
    batch read."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    _register(spark)
    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    t = pa.table({"id": pa.array(range(400), pa.int64()),
                  "props": pa.array(['{"k": %d}' % i for i in range(400)])})
    pq.write_table(t.slice(0, 200), os.path.join(src_dir, "a.parquet"))
    pq.write_table(t.slice(200, 200), os.path.join(src_dir, "b.parquet"))
    out = str(tmp_path / "t")
    sdf = (spark.readStream.schema(spark.read.parquet(src_dir).schema)
           .option("maxFilesPerTrigger", 1).parquet(src_dir)
           .select("id", F.parse_json("props").alias("v")))
    q = (sdf.writeStream.format("webcodec").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    back = spark.read.format("webcodec").option("path", out).load()
    assert dict(back.dtypes)["v"] == "variant"
    got = {r.id: r.k for r in back.select(
        "id", F.variant_get("v", "$.k", "long").alias("k")).collect()}
    assert got == {i: i for i in range(400)}


@pytest.mark.spark
def test_maintenance_on_variant_table(spark, tmp_path):
    """compact() and delete_where() work on tables holding variant columns
    (byte-level merge and predicate deletes never decode the variant
    struct)."""
    from pyspark.sql import functions as F

    from webcodec.spark.maintenance import compact, delete_where

    _register(spark)
    df = _variant_df(spark, n=30, null_every=1000)  # no nulls
    out = str(tmp_path / "t")
    # two appends -> two files -> compaction has something to merge
    df.filter("id < 15").write.format("webcodec").mode("append").option(
        "path", out).save()
    df.filter("id >= 15").write.format("webcodec").mode("append").option(
        "path", out).save()
    compact(out)
    back = spark.read.format("webcodec").option("path", out).load()
    assert back.count() == 30
    delete_where(spark, out, ("id", "<", 10))
    back = spark.read.format("webcodec").option("path", out).load()
    got = {r.id: r.k for r in back.select(
        "id", F.variant_get("v", "$.k", "long").alias("k")).collect()}
    assert got == {i: i for i in range(10, 30)}


@pytest.mark.spark
def test_mask_nullify_variant_column(spark, tmp_path):
    """rewrite_encoded mask of a VARIANT column (GDPR nullify): the masked
    column's null-fill type must be the variant storage struct — the generic
    Spark-type-string parser has no 'variant' mapping, so this is the one
    masked type that needs the special case (regression: r5 review)."""
    from pyspark.sql import functions as F

    from webcodec.spark.maintenance import rewrite_encoded

    _register(spark)
    d = str(tmp_path / "src")
    df = spark.range(40).select(
        "id", F.parse_json(F.format_string('{"k": %d}', "id")).alias("v"),
        F.format_string("u%d", "id").alias("u"))
    df.write.format("webcodec").mode("append").option("path", d).save()
    d2 = str(tmp_path / "dst")
    rewrite_encoded(spark, d, d2, mask_columns=["v"])
    back = spark.read.format("webcodec").option("path", d2).load()
    assert dict(back.dtypes)["v"] == "variant"
    rows = back.orderBy("id").collect()
    assert len(rows) == 40
    assert all(r["v"] is None for r in rows)
    assert [r["u"] for r in rows[:3]] == ["u0", "u1", "u2"]
