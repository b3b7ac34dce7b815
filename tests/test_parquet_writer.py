"""Differential WRITE tests: files produced by webcodec's own parquet writer
(thrift + v1 pages + spec RLE levels, no pyarrow writer involvement) must be
decoded value-for-value by the reference readers."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec.parquet_writer import write_parquet

_RNG = np.random.default_rng(41)


def _table(n=4_000):
    return pa.table({
        "i": pa.array([None if i % 7 == 0 else i * 3 for i in range(n)], pa.int64()),
        "i32": pa.array(_RNG.integers(-(2**28), 2**28, n), pa.int32()),
        "d": pa.array(_RNG.standard_normal(n), pa.float64()),
        "f": pa.array(_RNG.standard_normal(n).astype(np.float32), pa.float32()),
        "s": pa.array([None if i % 11 == 0 else f"str{i % 50}" for i in range(n)], pa.string()),
        "b": pa.array([bytes([i % 256]) * (i % 5) for i in range(n)], pa.binary()),
        "flag": pa.array([None if i % 13 == 0 else (i % 3 == 0) for i in range(n)], pa.bool_()),
        "ts": pa.array([1_700_000_000_000_000 + i for i in range(n)], pa.timestamp("us")),
        "day": pa.array(list(range(18000, 18000 + n)), pa.date32()),
    })


@pytest.mark.parametrize("codec", ["none", "zstd", "snappy", "gzip", "lz4"])
def test_reference_reader_roundtrip(tmp_path, codec):
    t = _table()
    path = str(tmp_path / "out.parquet")
    write_parquet(t, path, codec=codec)
    back = pq.read_table(path)
    for c in t.column_names:
        got = back.column(c).combine_chunks().cast(t.column(c).type)
        assert got.equals(t.column(c).combine_chunks()), c


def test_duckdb_reads_our_parquet(tmp_path):
    import duckdb

    t = _table(1_000)
    path = str(tmp_path / "out.parquet")
    write_parquet(t, path, codec="zstd")
    n, si = duckdb.sql(f"SELECT count(*), sum(i) FROM '{path}'").fetchone()
    assert n == 1_000
    assert si == sum(v for v in t.column("i").to_pylist() if v is not None)


def test_edge_shapes(tmp_path):
    cases = [
        pa.table({"x": pa.array([], pa.int64())}),
        pa.table({"x": pa.array([None, None, None], pa.string())}),
        pa.table({"x": pa.array(["", "", "a"], pa.string())}),
        pa.table({"x": pa.array([1], pa.int64())}),
    ]
    for i, t in enumerate(cases):
        path = str(tmp_path / f"e{i}.parquet")
        write_parquet(t, path, codec="none")
        back = pq.read_table(path)
        assert back.column("x").combine_chunks().equals(t.column("x").combine_chunks()), i


@pytest.mark.spark
def test_export_parquet_spark_readable(spark, tmp_path):
    """wcd table -> standard parquet via export_parquet; Spark (parquet-mr
    lineage reader) must see identical rows."""
    from webcodec.fixtures import webpages
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet

    src = str(tmp_path / "src.parquet")
    pq.write_table(webpages(3_000), src)
    df = spark.read.parquet(src)
    tdir = str(tmp_path / "t")
    encode_table(df, tdir, url_col="url", mode="clustered", num_partitions=3,
                 write_metrics=False)
    out = str(tmp_path / "export")
    res = export_parquet(spark, tdir, out)
    assert res["rows"] == 3_000 and res["files"] == 3
    back = spark.read.parquet(out)
    assert back.count() == 3_000
    from pyspark.sql import functions as F

    a = df.select("url", "text", F.col("warc_ts").cast("timestamp").alias("w"))
    b = back.select("url", "text", F.col("warc_ts").cast("timestamp").alias("w"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_dictionary_encoded_output(tmp_path):
    """Low-cardinality columns get PLAIN_DICTIONARY (PLAIN dict page +
    bit-width-prefixed spec-RLE indices); high-cardinality stay PLAIN."""
    n = 5_000
    t = pa.table({
        "lang": pa.array([None if i % 13 == 0 else ["en", "de", "fr"][i % 3] for i in range(n)]),
        "k": pa.array([i % 37 for i in range(n)], pa.int64()),
        "u": pa.array([f"unique-{i}" for i in range(n)]),
    })
    path = str(tmp_path / "d.parquet")
    write_parquet(t, path, codec="zstd")
    md = pq.ParquetFile(path).metadata
    assert "PLAIN_DICTIONARY" in md.row_group(0).column(0).encodings
    assert "PLAIN_DICTIONARY" in md.row_group(0).column(1).encodings
    assert "PLAIN_DICTIONARY" not in md.row_group(0).column(2).encodings
    back = pq.read_table(path)
    for c in t.column_names:
        assert back.column(c).combine_chunks().cast(t.column(c).type).equals(
            t.column(c).combine_chunks()
        ), c


def test_randomized_fuzz_vs_reference_reader(tmp_path):
    """60 random tables (types x null densities x sizes x codecs) written by
    our parquet writer must read back exactly through pyarrow."""
    import random

    pyrng = random.Random(77)
    rng = np.random.default_rng(77)
    gens = {
        pa.int64(): lambda n: rng.integers(-(2**60), 2**60, n).tolist(),
        pa.int32(): lambda n: rng.integers(-(2**30), 2**30, n).tolist(),
        pa.float64(): lambda n: rng.standard_normal(n).tolist(),
        pa.string(): lambda n: [pyrng.choice(["", "a", "longer-value", "x" * 40]) for _ in range(n)],
        pa.binary(): lambda n: [bytes(rng.integers(0, 256, i % 17, dtype=np.uint8)) for i in range(n)],
        pa.bool_(): lambda n: (rng.random(n) < 0.5).tolist(),
        pa.timestamp("us"): lambda n: (1_700_000_000_000_000 + rng.integers(0, 10**10, n)).tolist(),
        pa.date32(): lambda n: rng.integers(0, 30000, n).tolist(),
        pa.int16(): lambda n: rng.integers(-(2**15), 2**15, n).tolist(),
        pa.uint32(): lambda n: rng.integers(0, 2**32, n).tolist(),
        pa.uint64(): lambda n: (rng.integers(-(2**62), 2**62, n) + 2**63)
                               .astype("uint64").tolist(),
        pa.time64("us"): lambda n: rng.integers(0, 86_400_000_000, n).tolist(),
    }
    for trial in range(60):
        n = pyrng.choice([0, 1, 9, 500, 3001])
        cols = {}
        for j in range(pyrng.randint(1, 4)):
            t_ = pyrng.choice(list(gens))
            null_p = pyrng.choice([0.0, 0.1, 0.95])
            vals = [None if pyrng.random() < null_p else v for v in gens[t_](n)]
            cols[f"c{j}"] = pa.array(vals, t_)
        t = pa.table(cols)
        path = str(tmp_path / f"f{trial}.parquet")
        write_parquet(t, path, codec=pyrng.choice(["none", "zstd", "snappy", "gzip", "lz4"]),
                      use_dictionary=pyrng.choice([True, False]))
        back = pq.read_table(path)
        for c in t.column_names:
            got = back.column(c).combine_chunks().cast(t.column(c).type)
            assert got.equals(t.column(c).combine_chunks()), (trial, c)


def test_multi_row_group_output(tmp_path):
    """row_group_rows splits the export into multiple row groups that
    pyarrow AND DuckDB read back value-for-value; per-group dict pages
    stay dict-encoded."""
    import duckdb

    from webcodec.fixtures import webpages
    from webcodec.parquet_writer import write_parquet

    t = webpages(5_000).select(["url", "lang", "warc_ts"])
    path = str(tmp_path / "m.parquet")
    write_parquet(t, path, codec="zstd", row_group_rows=1_000)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 5
    assert md.num_rows == 5_000
    for g in range(5):
        assert md.row_group(g).num_rows == 1_000
        assert "PLAIN_DICTIONARY" in md.row_group(g).column(1).encodings  # lang
    back = pq.read_table(path)
    assert back.column("url").to_pylist() == t.column("url").to_pylist()
    assert back.column("lang").to_pylist() == t.column("lang").to_pylist()
    n = duckdb.sql(f"SELECT count(*) AS c, count(DISTINCT lang) AS d FROM read_parquet('{path}')").fetchone()
    assert n == (5_000, 6)


def test_emit_delta_binary_packed_read_by_reference(tmp_path):
    """Write-side half of the delta differential test: OUR spec
    DELTA_BINARY_PACKED bytes must be decoded by the reference reader."""
    import numpy as np

    from webcodec.parquet_writer import write_parquet

    rng = np.random.default_rng(13)
    vals = np.cumsum(rng.integers(-500, 500, 30_000)).astype(np.int64)
    nullable = [None if i % 9 == 0 else int(v) for i, v in enumerate(vals)]
    t = pa.table({
        "i64": pa.array(nullable, pa.int64()),
        "i32": pa.array((vals % (2**28)).astype(np.int32)),
        "ts": pa.array(np.abs(vals) * 1000, pa.timestamp("us")),
    })
    path = str(tmp_path / "delta.parquet")
    write_parquet(t, path, codec="zstd",
                  column_encoding={"i64": "delta_binary_packed",
                                   "i32": "delta_binary_packed",
                                   "ts": "delta_binary_packed"})
    pf = pq.ParquetFile(path)
    for ci in range(3):
        assert "DELTA_BINARY_PACKED" in pf.metadata.row_group(0).column(ci).encodings
    got = pq.read_table(path)
    assert got.column("i64").to_pylist() == nullable
    assert got.column("i32").to_pylist() == t.column("i32").to_pylist()
    # converted_type TS_MICROS reads back tz=UTC — compare raw micros
    assert got.column("ts").cast(pa.int64()).to_pylist() == \
        t.column("ts").cast(pa.int64()).to_pylist()
    import duckdb

    assert duckdb.sql(
        f"SELECT count(*), sum(i32) FROM '{path}'"
    ).fetchone() == (30_000, int(t.column('i32').to_pandas().sum()))


def test_emit_byte_stream_split_read_by_reference(tmp_path):
    import numpy as np

    from webcodec.parquet_writer import write_parquet

    rng = np.random.default_rng(17)
    t = pa.table({
        "f": pa.array(rng.standard_normal(8_000).astype(np.float32)),
        "d": pa.array([None if i % 7 == 0 else float(x)
                       for i, x in enumerate(rng.standard_normal(8_000))],
                      pa.float64()),
    })
    path = str(tmp_path / "bss.parquet")
    write_parquet(t, path, codec="zstd",
                  column_encoding={"f": "byte_stream_split",
                                   "d": "byte_stream_split"})
    pf = pq.ParquetFile(path)
    for ci in range(2):
        assert "BYTE_STREAM_SPLIT" in pf.metadata.row_group(0).column(ci).encodings
    got = pq.read_table(path)
    assert got.column("f").to_pylist() == t.column("f").to_pylist()
    assert got.column("d").to_pylist() == t.column("d").to_pylist()


def test_emit_delta_multi_row_group(tmp_path):
    import numpy as np

    from webcodec.parquet_writer import write_parquet

    t = pa.table({"k": pa.array(np.arange(10_000), pa.int64())})
    path = str(tmp_path / "delta_rg.parquet")
    write_parquet(t, path, row_group_rows=3_000,
                  column_encoding={"k": "delta_binary_packed"})
    pf = pq.ParquetFile(path)
    assert pf.metadata.num_row_groups == 4
    assert pq.read_table(path).column("k").to_pylist() == list(range(10_000))


def test_export_parquet_carries_delta_encoding(spark, tmp_path):
    """export_parquet re-emits columns the .wcd selector delta-packed as
    spec DELTA_BINARY_PACKED parquet pages; the reference reader decodes
    them value-for-value."""
    import numpy as np

    import os

    from webcodec import filefmt
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import export_parquet
    from webcodec.spark.table import SnapshotTable
    from webcodec.types import Encoding

    n = 20_000
    t = pa.table({
        "seq": pa.array(np.cumsum(np.random.default_rng(5).integers(0, 9, n)),
                        pa.int64()),
        "name": pa.array([f"n{i % 50}" for i in range(n)]),
    })
    srcp = str(tmp_path / "src.parquet")
    pq.write_table(t, srcp)
    tdir = str(tmp_path / "tbl")
    encode_table(spark.read.parquet(srcp), tdir, write_metrics=False)
    # precondition: the selector actually chose DELTA for the monotone ints
    f0 = SnapshotTable(tdir).read_snapshot()["files"][0]
    footer = filefmt.read_footer_path(os.path.join(tdir, f0["path"]))
    enc_of = {c["name"]: c["encoding"]
              for c in (footer.get("groups") or [footer])[0]["chunks"]}
    assert Encoding(enc_of["seq"]) == Encoding.DELTA_BINARY_PACKED
    out = str(tmp_path / "out")
    export_parquet(spark, tdir, out)
    part = sorted(os.listdir(out))[0]
    pf = pq.ParquetFile(os.path.join(out, part))
    seq_idx = pf.schema_arrow.get_field_index("seq")
    assert "DELTA_BINARY_PACKED" in pf.metadata.row_group(0).column(seq_idx).encodings
    back = pq.read_table(out).sort_by("seq")
    assert back.column("seq").to_pylist() == sorted(t.column("seq").to_pylist())


def test_nested_and_decimal_export_roundtrip(tmp_path):
    """One-level list / struct / decimal128 export: rep/def levels and FLBA
    big-endian decimals read back value-identical by the reference reader,
    including null lists, empty lists, null elements, null structs, null
    struct fields, and negative / full-precision decimals — across multiple
    row groups with the edge rows landing on group boundaries."""
    import decimal

    rows = []
    for i in range(1_000):
        tags = (None if i % 5 == 2
                else [] if i % 7 == 3
                else [f"t{i % 13}", None if i % 11 == 0 else f"u{i % 3}"])
        st = (None if i % 9 == 4
              else {"x": None if i % 6 == 1 else i, "y": f"s{i % 4}"})
        dec = (None if i % 8 == 5
               else decimal.Decimal(i - 500) * decimal.Decimal("1.01"))
        rows.append({"id": i, "tags": tags, "st": st, "dec": dec})
    t = pa.Table.from_pylist(rows, schema=pa.schema([
        ("id", pa.int64()),
        ("tags", pa.list_(pa.string())),
        ("st", pa.struct([("x", pa.int64()), ("y", pa.string())])),
        ("dec", pa.decimal128(38, 2)),
    ]))
    p = str(tmp_path / "nested.parquet")
    write_parquet(t, p, codec="zstd", row_group_rows=333)
    pf = pq.ParquetFile(p)
    assert pf.metadata.num_row_groups == 4
    assert pf.metadata.num_rows == 1_000
    back = pq.read_table(p)
    assert back.equals(t)


def test_deep_nesting_shapes(tmp_path):
    """Arbitrary-depth shredding (r5): map, list<struct>, list<list>,
    struct<list>, map<string, list>, and a depth-4 mix all read back
    value-identical through the reference reader, including null/empty
    containers at every level."""
    cases = {
        "m": pa.array([[("k1", 1), ("k2", None)], None, [], [("z", 9)]],
                      pa.map_(pa.string(), pa.int64())),
        "ls": pa.array([[{"a": 1}, None, {"a": None}], None, [], [{"a": 7}]],
                       pa.list_(pa.struct([("a", pa.int64())]))),
        "ll": pa.array([[[1, 2], None, []], None, [[3]], []],
                       pa.list_(pa.list_(pa.int64()))),
        "sl": pa.array(
            [{"v": [1, 2], "w": "x"}, None, {"v": None, "w": None},
             {"v": [], "w": "y"}],
            pa.struct([("v", pa.list_(pa.int64())), ("w", pa.string())])),
        "ml": pa.array([[("a", [1, None]), ("b", [])], None, [("c", None)], []],
                       pa.map_(pa.string(), pa.list_(pa.int64()))),
        "deep": pa.array(
            [[{"q": [{"r": 1}]}], None, [{"q": None}, None], []],
            pa.list_(pa.struct([("q", pa.list_(pa.struct([("r", pa.int64())])))]))),
    }
    for name, arr in cases.items():
        t = pa.table({name: arr})
        p = str(tmp_path / f"{name}.parquet")
        write_parquet(t, p, codec="zstd")
        back = pq.read_table(p)
        assert back.cast(t.schema).equals(t), name


def _rand_nested_type(py, depth):
    prims = [pa.int64(), pa.string(), pa.float64(), pa.bool_(),
             pa.float16(), pa.decimal128(9, 2), pa.date32(),
             pa.timestamp("us")]
    if depth <= 0:
        return py.choice(prims)
    k = py.random()
    if k < 0.30:
        return pa.list_(_rand_nested_type(py, depth - 1))
    if k < 0.55:
        return pa.struct([(f"f{i}", _rand_nested_type(py, depth - 1))
                          for i in range(py.randint(1, 3))])
    if k < 0.75:
        return pa.map_(pa.string(), _rand_nested_type(py, depth - 1))
    return py.choice(prims)


def _rand_nested_value(py, rng, t, nullable=True):
    if nullable and py.random() < 0.2:
        return None
    if pa.types.is_list(t):
        return [_rand_nested_value(py, rng, t.value_type)
                for _ in range(py.randint(0, 4))]
    if pa.types.is_struct(t):
        return {f.name: _rand_nested_value(py, rng, f.type) for f in t}
    if pa.types.is_map(t):
        ks = sorted({f"k{rng.integers(0, 20)}" for _ in range(py.randint(0, 4))})
        return [(k, _rand_nested_value(py, rng, t.item_type)) for k in ks]
    if pa.types.is_int64(t):
        return int(rng.integers(-100, 100))
    if pa.types.is_string(t):
        return f"s{rng.integers(0, 50)}"
    if pa.types.is_float64(t):
        return float(rng.integers(-1000, 1000)) / 8.0
    if pa.types.is_float16(t):
        return np.float16(int(rng.integers(-1000, 1000)) / 8.0)
    if pa.types.is_decimal(t):
        import decimal

        return decimal.Decimal(int(rng.integers(-10**7, 10**7))).scaleb(-2)
    if pa.types.is_date32(t):
        import datetime

        return datetime.date(2000, 1, 1) + datetime.timedelta(
            days=int(rng.integers(0, 20_000)))
    if pa.types.is_timestamp(t):
        import datetime

        return datetime.datetime(2000, 1, 1) + datetime.timedelta(
            seconds=int(rng.integers(0, 10**9)))
    return bool(rng.integers(0, 2))


@pytest.mark.parametrize("seed", range(20))
def test_deep_nested_export_fuzz(tmp_path, seed):
    """Random-SCHEMA differential fuzz: random compositions of
    list/struct/map to depth 3 with random nulls/empties at every level
    must read back value-identical through the reference reader."""
    import random

    py = random.Random(1000 + seed)
    rng = np.random.default_rng(1000 + seed)
    n = py.choice([0, 1, 3, 50, 200])
    cols = {}
    for ci in range(py.randint(1, 3)):
        t = _rand_nested_type(py, py.randint(1, 3))
        cols[f"c{ci}"] = pa.array(
            [_rand_nested_value(py, rng, t) for _ in range(n)], t)
    t = pa.table(cols)
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, codec=["zstd", "none", "snappy"][seed % 3],
                  row_group_rows=[None, 64, 7][seed % 3])
    back = pq.read_table(p)
    assert back.num_rows == t.num_rows
    assert back.cast(t.schema).equals(t), seed


def test_decimal_export_extremes(tmp_path):
    """38-digit decimals (the full int128 range parquet FLBA(16) carries)
    round-trip bit-exact, including the negative extreme."""
    import decimal

    vals = [decimal.Decimal("9" * 36 + ".99"), decimal.Decimal("-9" * 1 + "0.01"),
            decimal.Decimal("-" + "9" * 36 + ".99"), decimal.Decimal("0.00"), None]
    t = pa.table({"d": pa.array(vals, pa.decimal128(38, 2))})
    p = str(tmp_path / "dec.parquet")
    write_parquet(t, p, codec="none")
    assert pq.read_table(p).equals(t)


@pytest.mark.parametrize("seed", range(24))
def test_nested_export_fuzz(tmp_path, seed):
    """Differential fuzz of the nested/decimal export: random list/struct/
    decimal tables (null lists, empty lists, null elements, null structs,
    null fields, negative decimals, random row-group cuts) must read back
    value-identical through the reference reader. An extended 250-seed sweep
    of the same generator passed during round 4."""
    import decimal
    import random

    py = random.Random(seed)
    rng = np.random.default_rng(seed)
    n = py.choice([0, 1, 5, 333])
    t = pa.table({
        "id": pa.array(range(n), pa.int64()),
        "ls": pa.array(
            [None if py.random() < .15 else
             [] if py.random() < .15 else
             [None if py.random() < .2 else f"v{rng.integers(0, 50)}"
              for _ in range(py.randint(1, 6))]
             for _ in range(n)], pa.list_(pa.string())),
        "li": pa.array(
            [None if py.random() < .2
             else rng.integers(-9, 9, py.randint(0, 4)).tolist()
             for _ in range(n)], pa.list_(pa.int64())),
        "st": pa.array(
            [None if py.random() < .2 else
             {"x": None if py.random() < .3 else int(rng.integers(-5, 5)),
              "y": None if py.random() < .3 else f"s{rng.integers(0, 9)}"}
             for _ in range(n)], pa.struct([("x", pa.int64()), ("y", pa.string())])),
        "d": pa.array(
            [None if py.random() < .25 else
             decimal.Decimal(int(rng.integers(-10**12, 10**12))).scaleb(-3)
             for _ in range(n)], pa.decimal128(30, 3)),
        "ld": pa.array(
            [None if py.random() < .2 else
             [None if py.random() < .3 else
              decimal.Decimal(int(rng.integers(-10**9, 10**9))).scaleb(-2)
              for _ in range(py.randint(0, 3))]
             for _ in range(n)], pa.list_(pa.decimal128(12, 2))),
    })
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, codec=["zstd", "none", "snappy"][seed % 3],
                  row_group_rows=[None, 100, 7][seed % 3])
    back = pq.read_table(p)
    assert back.num_rows == t.num_rows
    for c in t.column_names:
        assert back.column(c).combine_chunks().equals(
            t.column(c).combine_chunks()), (seed, c)


def _wide_values(rng, n: int, ndv: int, where: str, width: int) -> list[str]:
    """``n`` ASCII values over exactly ``ndv`` distinct ids, ~``width`` bytes
    each. ``where`` places the id: ``mid`` inside the 16 bytes the export's
    fingerprint reads, ``edge`` only outside them (equal fingerprints),
    ``len`` only in the length, ``short`` in a mix of long values and
    values under 16 bytes (repeats of a few short values among them)."""
    ids = rng.permutation(np.concatenate(
        [np.arange(ndv), rng.integers(0, ndv, n - ndv)])).tolist()
    half = "m" * (width // 2)
    if where == "mid":
        return [f"{half}{k:08d}{half}" for k in ids]
    if where == "edge":
        return [f"{k:08d}{half}{half}{k:08d}" for k in ids]
    if where == "len":
        return ["x" * (width + k) for k in ids]
    return [f"s{k % 7}" if k % 3 == 0 else f"{half}{k:08d}{half}{half}"
            for k in ids]


@pytest.mark.parametrize("seed", range(10))
def test_fingerprint_gate_never_changes_bytes(tmp_path, seed):
    """The PLAIN proof from value fingerprints (``_proves_plain``) only
    skips hashing: every export equals the one written with the proof
    switched off. Wide leaves with ndv just under, at and over n/2 (and
    over 65,536 at seeds ending in 9), values that differ only outside the
    fingerprint window or only in length, short values among long ones,
    nulls, sliced inputs, lists of wide strings, v1/v2 pages, row-group
    cuts and forced column encodings."""
    from unittest import mock

    from webcodec import parquet_writer

    rng = np.random.default_rng([seed, 12])
    if seed % 10 == 9:  # over the 65,536-entry dictionary limit
        n, ndv = 131_076, [65_536, 65_537, 70_000][seed // 10 % 3]
        ids = rng.permutation(np.concatenate(
            [np.arange(ndv), rng.integers(0, ndv, n - ndv)]))
        mat = np.full((n, 264), ord("w"), np.uint8)
        mat[:, 128:136] = (ids[:, None] // 10 ** np.arange(8) % 10 + 48)
        t = pa.table({"w": pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(np.arange(n + 1, dtype=np.int32) * 264),
                             pa.py_buffer(mat)])})
        kw: dict = {"data_page_version": 1 + seed // 10 % 2}
    else:
        n = int(rng.integers(2, 2_500))
        ndv = max(1, [n // 2 - 1, n // 2, n // 2 + 1, n,
                      int(rng.integers(1, n + 1))][seed % 5])
        where = ["mid", "edge", "len", "short"][int(rng.integers(0, 4))]
        vals = _wide_values(rng, n, ndv, where, int(rng.integers(260, 700)))
        nulls = rng.random(n) < [0.0, 0.1][seed % 2]
        w = pa.array([None if z else v for v, z in zip(vals, nulls)],
                     [pa.string(), pa.binary()][int(rng.integers(0, 2))])
        lists = pa.array([vals[i:i + int(rng.integers(0, 4))] or None
                          for i in range(n)], pa.list_(pa.string()))
        t = pa.table({"w": w, "lw": lists,
                      "k": pa.array(rng.integers(0, 9, n), pa.int64())})
        a = int(rng.integers(0, n // 3 + 1))
        t = t.slice(a, n - a - int(rng.integers(0, n // 3 + 1)))
        kw = {"data_page_version": int(rng.integers(1, 3)),
              "row_group_rows": [None, max(1, t.num_rows // 3)][seed % 2]}
        forced = [None, "delta_length_byte_array", "delta_byte_array"][
            int(rng.integers(0, 3))]
        if forced:
            kw["column_encoding"] = {"lw" if seed % 2 else "w": forced}
    p = tmp_path / "t.parquet"
    write_parquet(t, str(p), **kw)
    got = p.read_bytes()
    with mock.patch.object(parquet_writer, "_proves_plain",
                           lambda leaf, limit: False):
        write_parquet(t, str(p), **kw)
    assert got == p.read_bytes(), seed
    assert pq.read_table(str(p)).equals(t.combine_chunks())


def test_fingerprint_depends_only_on_value_bytes():
    """A value's fingerprint is (length, the 16 bytes centred in it, zero
    past its end) wherever the value sits: at the start or the end of the
    buffer, between other neighbours, in a sliced array."""
    from webcodec.parquet_writer import _fingerprints, _varlen_parts

    def expect(v: bytes):
        c = max((len(v) - 16) // 2, 0)
        win = v[c:c + 16].ljust(16, b"\0")
        return [len(v), int.from_bytes(win[:8], "little"),
                int.from_bytes(win[8:], "little")]

    rng = np.random.default_rng(5)
    pool = [bytes(rng.integers(1, 256, k, dtype=np.uint8))
            for k in (0, 1, 7, 8, 9, 15, 16, 17, 23, 24, 31, 40, 300)]
    for trial in range(40):
        vals = [pool[i] for i in rng.integers(0, len(pool), 12)]
        arr = pa.array([b"\xff" * 33] + vals, pa.binary()).slice(1)
        fp = _fingerprints(*_varlen_parts(arr))
        assert fp.tolist() == [expect(v) for v in vals], trial
    # trailing bytes beyond a short value never leak into its fingerprint
    a = _fingerprints(*_varlen_parts(pa.array([b"ab", b"x" * 20], pa.binary())))
    b = _fingerprints(*_varlen_parts(pa.array([b"ab", b"y" * 20], pa.binary())))
    assert a[0].tolist() == b[0].tolist() == expect(b"ab")


def test_wide_columns_are_not_hashed(monkeypatch, tmp_path):
    """On a webpages export the exact dictionary test (one
    ``pc.dictionary_encode`` per leaf) runs for url, warc_ts and lang, but
    never for html or text: their fingerprints alone prove PLAIN."""
    import pyarrow.compute as pc

    from webcodec import fixtures

    t = fixtures.webpages(3_000, seed=7)
    cols = {c: t[c].combine_chunks() for c in t.column_names}
    hashed = []
    real = pc.dictionary_encode

    def counting(arr, *a, **k):
        hashed.extend(c for c, v in cols.items() if v.equals(arr))
        return real(arr, *a, **k)

    monkeypatch.setattr(pc, "dictionary_encode", counting)
    write_parquet(t, str(tmp_path / "w.parquet"))
    assert sorted(hashed) == ["lang", "url", "warc_ts"]
    md = pq.ParquetFile(str(tmp_path / "w.parquet")).metadata.row_group(0)
    assert "PLAIN_DICTIONARY" in md.column(4).encodings  # lang
    assert "PLAIN_DICTIONARY" not in md.column(2).encodings  # html


@pytest.mark.parametrize("page_version", [1, 2])
@pytest.mark.parametrize("seed", range(3))
def test_single_chunk_export_matches_combined(tmp_path, seed, page_version):
    """``write_parquet`` takes a one-chunk column as is, so every row group
    after the first (and a sliced input's first) reaches the leaf writer
    with a non-zero offset: the file equals the one written from the same
    rows chunked so that every row group straddles a chunk boundary (which
    goes through ``combine_chunks``, offset 0). Flat columns with nulls at
    odd offsets, booleans, dictionary and PLAIN strings, decimals, nested
    lists/structs/maps, bloom filters, v1 and v2 pages."""
    from decimal import Decimal

    rng = np.random.default_rng([seed, 1337])
    n = 2_000

    def maybe(v, p=0.1):
        return None if rng.random() < p else v

    t = pa.table({
        "i": pa.array([maybe(int(x)) for x in rng.integers(-1e9, 1e9, n)], pa.int64()),
        "b": pa.array([maybe(bool(x)) for x in rng.integers(0, 2, n)], pa.bool_()),
        "f": pa.array([maybe(float(x)) for x in rng.standard_normal(n)], pa.float64()),
        "lang": pa.array([maybe(["en", "de", "fr"][x]) for x in rng.integers(0, 3, n)]),
        "url": pa.array([maybe(f"https://h{x % 97}.example/p/{x}")
                         for x in rng.integers(0, 10**9, n)]),
        "raw": pa.array([maybe(bytes(rng.integers(0, 256, x % 9, dtype=np.uint8)))
                         for x in range(n)], pa.binary()),
        "price": pa.array([maybe(Decimal(int(x)).scaleb(-2))
                           for x in rng.integers(0, 10**8, n)], pa.decimal128(12, 2)),
        "tags": pa.array([maybe([int(y) for y in rng.integers(0, 50, x % 4)])
                          for x in range(n)], pa.list_(pa.int32())),
        "fetch": pa.array([maybe({"status": int(x), "mime": maybe("text/html")})
                           for x in rng.integers(200, 500, n)],
                          pa.struct([("status", pa.int32()), ("mime", pa.string())])),
        "hdr": pa.array([maybe([("k", f"v{x}")] * (x % 3)) for x in range(n)],
                        pa.map_(pa.string(), pa.string())),
        "pos": pa.array([maybe([[int(x)] * (x % 3)] * (x % 2 + 1)) for x in range(n)],
                        pa.list_(pa.list_(pa.int64()))),
    })
    t = t.slice(int(rng.integers(1, 30)), n - 60)  # sliced from the start too
    rg = int(rng.integers(101, 400)) | 1  # odd: offsets off the bitmap bytes
    cuts = sorted({0, t.num_rows, *range(rg // 2, t.num_rows, rg)})
    split = pa.concat_tables([t.slice(a, b - a) for a, b in zip(cuts, cuts[1:])])
    assert all(c.num_chunks == 1 for c in t.columns)
    kw = {"row_group_rows": rg, "data_page_version": page_version,
          "bloom_filter_columns": {"url", "i"}}
    p1, p2 = tmp_path / "single.parquet", tmp_path / "split.parquet"
    write_parquet(t, str(p1), **kw)
    write_parquet(split, str(p2), **kw)
    assert p1.read_bytes() == p2.read_bytes()
    assert pq.read_table(str(p1)).equals(t.combine_chunks())
