"""SizeStatistics + encoding_stats on parquet export (parquet-format
2.10 / parquet-java 1.14+ footer parity): ColumnMetaData field 16 carries
unencoded_byte_array_data_bytes (BYTE_ARRAY value bytes, no length
prefixes) plus repetition/definition level histograms for nested leaves
(rep when repeated; def only when max_def > 1 — flat optionals are
derivable from null_count, which is exactly when parquet-java omits it);
OffsetIndex field 2 carries the per-page unencoded sizes; field 13 lists
per-page-type encoding counts. Differential: parquet-java (Spark 4.1's
writer) emits IDENTICAL field-16 values for the same logical data —
pinned for a flat string column and a nullable-element list."""

import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.parquet_writer import write_parquet


def _md_fields(path):
    with open(path, "rb") as fh:
        buf = memoryview(fh.read())
    (flen,) = struct.unpack("<I", buf[-8:-4])
    fmd, _ = pi._read_struct(buf, len(buf) - 8 - flen)
    out = {}
    for rg in fmd[4]:
        for cc in rg[1]:
            md = cc[3]
            oi2 = None
            if cc.get(4) is not None:
                oi, _ = pi._read_struct(buf, cc[4])
                oi2 = oi.get(2)
            key = ".".join(x.decode() for x in md[3])
            out.setdefault(key, []).append(
                {"enc_stats": md.get(13), "size_stats": md.get(16),
                 "oi_var": oi2})
    return out


def test_flat_string_size_stats(tmp_path):
    vals = [None if i % 7 == 3 else f"value-{i}" for i in range(5_000)]
    t = pa.table({"s": pa.array(vals), "n": pa.array(range(5_000))})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, row_group_rows=2_500)
    expect = [sum(len(v) for v in vals[a:a + 2_500] if v is not None)
              for a in (0, 2_500)]
    got = _md_fields(p)
    for rg_i, ch in enumerate(got["s"]):
        assert ch["size_stats"] == {1: expect[rg_i]}
        assert sum(ch["oi_var"]) == expect[rg_i]
        # flat string: PLAIN-or-dict data pages, no histograms
        assert all(len(e) == 3 for e in ch["enc_stats"])
    for ch in got["n"]:  # fixed-width column: no SizeStatistics needed
        assert ch["size_stats"] is None and ch["oi_var"] is None


def test_nested_histograms_match_parquet_java_semantics(tmp_path):
    """Same construction the parquet-java differential pinned live:
    1000 rows, list null on 2/3, first element null on half the kept
    rows — rep histogram [rows, continuations], def histogram
    [null-list, empty, null-elem, present]."""
    t = pa.table({"tags": pa.array(
        [(["a" if i % 6 == 0 else None, f"x{i}"]) if i % 3 == 0 else None
         for i in range(1000)], pa.list_(pa.string()))})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p)
    ss = _md_fields(p)["tags.list.element"][0]["size_stats"]
    # pinned against Spark 4.1/parquet-java 1.16 writing the same data
    assert ss == {1: 1465, 2: [1000, 334], 3: [666, 0, 167, 501]}


def test_parquet_java_differential_flat(tmp_path, spark):
    """parquet-java writes the SAME field-16 value for the same data."""
    import glob

    import pyspark.sql.functions as F

    d = str(tmp_path / "sp")
    spark.range(1000).select(
        F.concat(F.lit("v"), F.col("id")).alias("s")) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    ref = _md_fields(glob.glob(d + "/*.parquet")[0])["s"][0]
    t = pa.table({"s": pa.array([f"v{i}" for i in range(1000)])})
    p = str(tmp_path / "ours.parquet")
    write_parquet(t, p)
    ours = _md_fields(p)["s"][0]
    assert ours["size_stats"] == ref["size_stats"]
    assert ours["oi_var"] == ref["oi_var"]


def test_files_with_size_stats_read_everywhere(tmp_path):
    t = pa.table({
        "s": pa.array([f"x{i}" * (i % 4) for i in range(3_000)]),
        "tags": pa.array([[f"t{i % 5}"] if i % 2 else None
                          for i in range(3_000)], pa.list_(pa.string())),
    })
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, row_group_rows=1_000)
    assert pq.read_table(p).equals(t)
    assert duckdb.execute(
        f"select count(*) from '{p}'").fetchone()[0] == 3_000
    assert pi.read_table_arrow_native(p).equals(t)


def test_reader_surfaces_size_statistics(tmp_path, spark):
    """read_footer_native exposes SizeStatistics from parquet-java files
    AND our own (the _ChunkMeta.size_statistics surface)."""
    import glob

    import pyspark.sql.functions as F

    d = str(tmp_path / "sp")
    spark.range(500).select(
        F.concat(F.lit("w"), F.col("id")).alias("s")) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    for f in (glob.glob(d + "/*.parquet")[0],):
        m = pi.read_footer_native(f)["row_groups"][0][0]
        assert m.size_statistics["unencoded_bytes"] == sum(
            len(f"w{i}") for i in range(500))
    t = pa.table({"s": pa.array([f"w{i}" for i in range(500)])})
    p = str(tmp_path / "ours.parquet")
    write_parquet(t, p)
    m = pi.read_footer_native(p)["row_groups"][0][0]
    assert m.size_statistics["unencoded_bytes"] == sum(
        len(f"w{i}") for i in range(500))


def test_v2_pages_encoding_stats(tmp_path):
    t = pa.table({"k": pa.array([f"k{i % 50}" for i in range(10_000)])})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, data_page_version=2)
    es = _md_fields(p)["k"][0]["enc_stats"]
    # v2: PLAIN dict page + DATA_PAGE_V2 RLE_DICTIONARY data pages
    assert es[0] == {1: 2, 2: 0, 3: 1}
    assert es[1][1] == 3 and es[1][2] == 8  # page_type v2, RLE_DICTIONARY
    assert pq.read_table(p).num_rows == 10_000
