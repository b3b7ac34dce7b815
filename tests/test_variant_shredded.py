"""SHREDDED parquet VARIANT (VariantShredding.md) read support: Spark 4
writes variant columns shredded BY DEFAULT (``spark.sql.variant.
writeShredding.enabled``), splitting each variant into metadata + residual
value binaries plus a typed_value column subtree — files pyarrow cannot
even parse. The interop reader reassembles the unshredded
``<metadata, value>`` storage pair; every test compares semantics against
Spark's own read of the same file via the PUBLIC pyspark variant codec
(``pyspark.sql.variant_utils.VariantUtils``).

The variant_bin codec itself is differentially pinned against VariantUtils
here too (parse_json -> our walkers, our encoders -> VariantUtils decode).
"""

import os
import decimal
import glob
import json

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.variant_utils import VariantUtils as VU

from webcodec import parquet_interop as pi
from webcodec import variant_bin as vb


def _spark_ref(spark, path, col="v"):
    """id -> python value, via Spark's own variant read (the reference)."""
    rows = spark.read.parquet(path).select("id", F.col(col).alias("v")).collect()
    out = {}
    for r in rows:
        v = r["v"]
        out[r["id"]] = None if v is None else VU.to_python(v.value, v.metadata)
    return out


def _ours(path, col="v"):
    t = pi.read_table_arrow_native(path)
    parts = col.split(".")
    vals = t.column(parts[0]).to_pylist()
    for p in parts[1:]:
        vals = [None if r is None else r[p] for r in vals]
    out = {}
    for i, sv in zip(t.column("id").to_pylist(), vals):
        out[i] = (None if sv is None
                  else VU.to_python(bytes(sv["value"]), bytes(sv["metadata"])))
    return out


def _write(spark, df, tmp_path, name):
    d = str(tmp_path / name)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    f = glob.glob(d + "/part*.parquet")[0]
    # precondition: the file really is shredded (else this suite tests nothing)
    ft = pi.read_footer_native(f)
    assert ft["variant_shredded"], "expected Spark to shred the variant column"
    # and pyarrow really cannot read it
    with pytest.raises(Exception):
        pq.read_table(f)
    return f


def _check(spark, df, tmp_path, name, col="v"):
    f = _write(spark, df, tmp_path, name)
    ref = _spark_ref(spark, f, col)
    got = _ours(f, col)
    assert got == ref
    return f


def test_object_shredding(spark, tmp_path):
    """Objects with missing fields, extra fields, per-field type conflicts
    (value-only shredding nodes), nested objects and arrays, null rows —
    Spark shreds all of these."""
    rows = [
        '{"a": 1, "b": "x", "c": {"d": 2.5, "e": [1, 2, 3]}, "extra": true}',
        '{"a": -42, "b": "' + "long" * 30 + '", "c": {"d": -0.5, "e": []}}',
        '{"a": 999999999999}',
        '{"b": "only-b", "other": {"deep": [1, {"k": "v"}]}}',
        '{"a": "type-conflict-string", "b": "y"}',
        "null",
        '{"a": 7, "b": null}',
    ]
    df = (spark.createDataFrame([(i, r) for i, r in enumerate(rows)],
                                "id int, js string")
          .select("id", F.parse_json("js").alias("v")))
    _check(spark, df, tmp_path, "obj")


def test_root_kind_conflict_stays_unshredded(spark, tmp_path):
    """Rows conflicting at the ROOT (object vs array vs scalar) make Spark
    write the column UNSHREDDED — the reader must pass the storage pair
    through untouched."""
    rows = ['{"a": 1}', '[1, "two", 3.5, null]', '"bare string"', "null", "7"]
    df = (spark.createDataFrame([(i, r) for i, r in enumerate(rows)],
                                "id int, js string")
          .select("id", F.parse_json("js").alias("v")))
    d = str(tmp_path / "mixedroot")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    f = glob.glob(d + "/part*.parquet")[0]
    assert pi.read_footer_native(f)["variant_shredded"] == []
    assert _ours(f) == _spark_ref(spark, f)


def test_scalar_and_array_shredding(spark, tmp_path):
    df = spark.range(20).select(F.col("id").cast("int").alias("id"),
                                F.parse_json(F.col("id").cast("string"))
                                .alias("v"))
    _check(spark, df, tmp_path, "scalar")
    df = (spark.createDataFrame(
        [(i, json.dumps([i, i + 1, f"s{i}"])) for i in range(20)],
        "id int, js string").select("id", F.parse_json("js").alias("v")))
    _check(spark, df, tmp_path, "arr")


@pytest.mark.parametrize("tag,expr", [
    ("ts_tz", "cast(timestamp'2024-03-01 10:11:12.123456'"
              " + make_interval(0,0,0,0,0,0,id) as variant)"),
    ("ts_ntz", "cast(timestamp_ntz'2024-03-01 10:11:12.5'"
               " + make_interval(0,0,0,0,0,0,id) as variant)"),
    ("date", "cast(date'2020-06-15' + cast(id as int) as variant)"),
    ("dec", "cast(cast(1234.56 + id as decimal(10,2)) as variant)"),
    ("flt", "cast(cast(id as float) / 4 as variant)"),
    ("bin", "cast(encode(cast(id as string), 'utf-8') as variant)"),
])
def test_typed_value_kinds(spark, tmp_path, tag, expr):
    """Scalar typed_value kinds Spark shreds (homogeneous column per file):
    timestamp tz + ntz, date, decimal, float, binary; null rows mixed in."""
    df = spark.sql(f"""
      select cast(id as int) id,
             case when id % 5 = 3 then null else {expr} end v
      from range(15)
    """)
    f = _check(spark, df, tmp_path, tag)
    if tag == "dec":  # sanity: types survived, not stringified
        assert _spark_ref(spark, f)[0] == decimal.Decimal("1234.56")


def test_variant_nested_in_struct(spark, tmp_path):
    df = (spark.createDataFrame([(i, f'{{"n": {i}}}') for i in range(10)],
                                "id int, js string")
          .select("id", F.struct(F.parse_json("js").alias("inner"),
                                 F.lit(1).alias("tag")).alias("s")))
    _check(spark, df, tmp_path, "nested", col="s.inner")


def test_multi_row_group(spark, tmp_path):
    d = str(tmp_path / "multi")
    (spark.range(5000)
     .select(F.col("id").cast("int").alias("id"),
             F.parse_json(F.concat(F.lit('{"k": '), F.col("id").cast("string"),
                                   F.lit("}"))).alias("v"))
     .coalesce(1).write.mode("overwrite")
     .option("parquet.block.size", 64 * 1024).parquet(d))
    f = glob.glob(d + "/part*.parquet")[0]
    ft = pi.read_footer_native(f)
    assert ft["variant_shredded"] == [("v",)]
    ref = _spark_ref(spark, f)
    assert _ours(f) == ref and len(ref) == 5000


def test_metadata_extension_keeps_residual_ids_valid():
    """Appending shredded names to a dictionary must not shift existing ids
    (residual value bytes are spliced verbatim)."""
    value, metadata = VU.parse_json('{"zz": 1, "aa": {"mm": [2, "three"]}}')
    md2, ids = vb.extend_metadata(metadata, ["brand_new", "zz"])
    assert VU.to_python(value, md2) == VU.to_python(value, metadata)
    keys = vb.parse_metadata(md2)
    assert keys[ids["brand_new"]] == "brand_new"
    assert vb.value_extent(value) == len(value)


def test_fuzz_random_objects(spark, tmp_path):
    """Deterministic fuzz: 300 random JSON objects over a shared key pool
    (so Spark shreds) with random per-field types, nested objects/arrays,
    missing fields and null rows — our read must match Spark's exactly."""
    import random

    rng = random.Random(20260819)
    pool = [f"f{i}" for i in range(8)]

    def rand_scalar():
        return rng.choice([
            lambda: rng.randint(-2**40, 2**40),
            lambda: rng.randint(-100, 100),
            lambda: round(rng.uniform(-1e6, 1e6), 3),
            lambda: "s" * rng.randint(0, 70),
            lambda: rng.choice([True, False]),
            lambda: None,
        ])()

    def rand_val(depth=0):
        r = rng.random()
        if depth < 2 and r < 0.15:
            return {k: rand_val(depth + 1)
                    for k in rng.sample(pool, rng.randint(1, 3))}
        if depth < 2 and r < 0.3:
            return [rand_val(depth + 1) for _ in range(rng.randint(0, 4))]
        return rand_scalar()

    rows = []
    for i in range(300):
        if i % 37 == 5:
            rows.append((i, None))
            continue
        obj = {k: rand_val() for k in rng.sample(pool, rng.randint(1, 6))}
        rows.append((i, json.dumps(obj)))
    df = (spark.createDataFrame(rows, "id int, js string")
          .select("id", F.parse_json("js").alias("v")))
    _check(spark, df, tmp_path, "fuzz")


# ----------------------------- write direction ------------------------------

def _storage_rows(docs):
    import pyarrow as pa

    rows = []
    for d in docs:
        if d is None:
            rows.append(None)
            continue
        v, m = VU.parse_json(d)
        rows.append({"value": v, "metadata": m})
    t = pa.struct([pa.field("metadata", pa.binary(), False),
                   pa.field("value", pa.binary())])
    return rows, pa.array(rows, t)


def _py(sv):
    return (None if sv is None
            else VU.to_python(bytes(sv["value"]), bytes(sv["metadata"])))


def test_shred_storage_roundtrip():
    """shred_storage -> reassemble_storage is semantics-preserving over
    objects with nested containers, missing/extra fields, conflicts, null
    fields, variant-null rows and null slots."""
    from webcodec import variant_shred as vs

    docs = [
        '{"a": 1, "b": "x", "c": {"d": 2.5, "e": [1, 2, 3]}, "extra": true}',
        '{"a": -42, "c": {"d": -0.5, "e": []}}',
        '{"a": 999999999999, "b": null}',
        '{"b": "only-b", "other": {"deep": [1, {"k": "v"}]}}',
        '{"a": "type-conflict"}',
        "null", '{"a": 7}', None,
    ]
    rows, arr = _storage_rows(docs)
    sh = vs.shred_storage(arr)
    assert sh.type != arr.type  # it really shredded
    back = vs.reassemble_storage(sh)
    assert [_py(r) for r in back.to_pylist()] == [_py(r) for r in rows]


def test_shred_storage_root_conflict_noop():
    from webcodec import variant_shred as vs

    rows, arr = _storage_rows(['{"a": 1}', "[1]", '"s"'])
    assert vs.shred_storage(arr) is arr


def test_write_parquet_shredded_spark_reads(spark, tmp_path):
    """Our parquet EXPORT writes SHREDDED variant (write side of
    VariantShredding.md); Spark — the reference reader for variant — must
    restore every value exactly, and our own interop reader must agree."""
    import pyarrow as pa

    from webcodec.parquet_writer import write_parquet

    docs = ['{"a": %d, "b": "s%d", "c": {"d": [%d, %.1f]}}'
            % (i, i, i, i + 0.5) for i in range(40)]
    docs += ["null", '{"a": 7}', '{"a": 1, "zz": 9.5}',
             '{"c": {"d": [1], "x": false}}', None]
    rows, arr = _storage_rows(docs)
    t = pa.table({"id": pa.array(range(len(rows)), pa.int64()), "v": arr})
    p = str(tmp_path / "shredded_export.parquet")
    write_parquet(t, p, variant_columns={"v"}, shred_variants=True)

    ft = pi.read_footer_native(p)
    assert ft["variant_shredded"] == [("v",)]
    back = pi.read_table_arrow_native(p)
    assert [_py(r) for r in back.column("v").to_pylist()] == \
        [_py(r) for r in rows]

    got = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert dict(spark.read.parquet(p).dtypes)["v"] == "variant"
    for i, r in enumerate(rows):
        vv = got[i]
        b = None if vv is None else VU.to_python(vv.value, vv.metadata)
        assert b == _py(r), i


def test_export_parquet_shredded_end_to_end(spark, tmp_path):
    """events.props through the engine: DataSource write (variant .wcd
    table) -> export_parquet(shred_variants=True) -> Spark reads shredded
    files back value-exact."""
    from pyspark.sql import functions as F

    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.maintenance import export_parquet

    spark.dataSource.register(WebcodecDataSource)
    df = spark.createDataFrame(
        [(i, '{"k": %d, "tag": "t%d"}' % (i, i % 3)) for i in range(200)],
        "event_id long, props string",
    ).select("event_id", F.parse_json("props").alias("v"))
    table_dir = str(tmp_path / "t")
    df.write.format("webcodec").mode("append") \
        .option("path", table_dir).save()
    out_dir = str(tmp_path / "exported")
    export_parquet(spark, table_dir, out_dir, shred_variants=True)
    files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)
             if f.endswith(".parquet")]
    assert any(pi.read_footer_native(f)["variant_shredded"] for f in files)
    back = spark.read.parquet(out_dir)
    assert dict(back.dtypes)["v"] == "variant"
    got = {r["event_id"]: r["k"] for r in back.select(
        "event_id",
        F.variant_get(F.col("v"), "$.k", "long").alias("k")).collect()}
    assert got == {i: i for i in range(200)}


@pytest.mark.parametrize("js", [
    '{"a": 1, "b": [true, {"c": "d"}], "e": 2.5}',
    '[[1, 2], [3], []]',
    '{"big": ' + json.dumps("x" * 300) + "}",
    '{"neg": -1e-3, "dec": 0.1}',
])
def test_codec_walkers_vs_pyspark(js):
    value, metadata = VU.parse_json(js)
    assert vb.value_extent(value) == len(value)
    if vb.is_object(value):
        keys = vb.parse_metadata(metadata)
        rebuilt = vb.build_object(vb.object_fields(value), lambda i: keys[i])
        assert VU.to_python(rebuilt, metadata) == VU.to_python(value, metadata)
