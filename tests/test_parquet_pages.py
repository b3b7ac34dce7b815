"""Page-size cutting on parquet export (~1 MiB v1 data pages per chunk).

The reference writer cuts data pages at DEFAULT_PAGE_SIZE (1 MiB) so
readers stream page-at-a-time instead of buffering whole column chunks —
for a web-text table whose html column dominates a 64 MB row group, a
single-page chunk would force a 64 MB decompression buffer per reader
thread. These tests pin the multi-page layout across encodings, nulls,
dictionary chunks and modular encryption, against three readers (pyarrow,
DuckDB, our native thrift walker).
"""
import base64

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.parquet_writer import _page_bounds, write_parquet


def _n_pages(path, col=0, rg=0):
    """Count pages in a chunk by walking page headers with our thrift
    reader (works on plaintext files)."""
    ft = pi.read_footer_native(path)
    cm = ft["row_groups"][rg][col]
    buf = ft["buf"]
    pos = cm.dictionary_page_offset or cm.data_page_offset
    end = pos + cm.total_compressed_size
    n = 0
    while pos < end:
        hdr, after = pi._read_struct(buf, pos)
        n += 1
        pos = after + hdr[3]  # compressed_page_size
    return n


def _big_table(n=40_000, with_nulls=True):
    rng = np.random.default_rng(11)
    body = [f"<p id={i}>" + "y" * int(v)
            for i, v in enumerate(rng.integers(300, 900, n))]
    if with_nulls:
        body = [None if i % 501 == 0 else b for i, b in enumerate(body)]
    return pa.table({"html": pa.array(body),
                     "k": pa.array(np.arange(n, dtype=np.int64))})


def test_page_bounds_shape():
    assert _page_bounds(0, 0) == [(0, 0)]
    assert _page_bounds(10, 100) == [(0, 10)]  # under 1 MiB: one page
    bs = _page_bounds(1000, 5 << 20)  # ~5 MiB: 5 pages of 200 rows
    assert len(bs) == 5 and bs[0] == (0, 200) and bs[-1] == (800, 1000)
    assert all(a2 == b1 for (_, b1), (a2, _) in zip(bs, bs[1:]))
    assert len(_page_bounds(3, 50 << 20)) == 3  # never more pages than rows


def test_multipage_plain_roundtrips_everywhere(tmp_path):
    t = _big_table()
    p = str(tmp_path / "m.parquet")
    write_parquet(t, p)
    assert _n_pages(p, 0) > 5  # ~24 MB html -> ~21 pages
    assert pq.read_table(p).equals(t)
    assert pi.read_table_arrow_native(p).equals(t)
    con = duckdb.connect()
    nulls = sum(v is None for v in t["html"].to_pylist())
    assert con.execute(f"select count(*) filter (html is null), count(*) "
                       f"from read_parquet('{p}')").fetchone() == \
        (nulls, t.num_rows)


def test_multipage_dictionary_chunk_sizes_by_index_bytes(tmp_path):
    # low-cardinality column: pages hold bit-packed indices, so a chunk
    # whose RAW bytes exceed many MiB still needs only ~1 index page
    n = 200_000
    t = pa.table({"lang": pa.array([["en", "de", "fr", "pt"][i % 4] * 20
                                    for i in range(n)])})
    p = str(tmp_path / "d.parquet")
    write_parquet(t, p)
    assert pq.read_table(p).equals(t)
    assert _n_pages(p) <= 3  # dict page + O(1) index pages, not raw/1MiB


def test_multipage_forced_encodings_roundtrip(tmp_path):
    n = 1_200_000
    rng = np.random.default_rng(5)
    t = pa.table({"ts": pa.array(np.cumsum(rng.integers(0, 50, n))),
                  "f": pa.array(rng.normal(size=n))})
    p = str(tmp_path / "e.parquet")
    write_parquet(t, p, column_encoding={"ts": "delta_binary_packed",
                                         "f": "byte_stream_split"})
    assert _n_pages(p, 0) > 1 and _n_pages(p, 1) > 1
    assert pq.read_table(p).equals(t)
    assert pi.read_table_arrow_native(p).equals(t)


def test_multipage_boolean_bitpacking_restarts_per_page(tmp_path):
    # 9M bools ≈ 1.1 MiB packed -> 2+ pages; per-page PLAIN booleans must
    # restart bit packing on a fresh byte or values shift across pages
    n = 9_000_000
    t = pa.table({"b": pa.array((np.arange(n) % 3 == 0))})
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p)
    assert _n_pages(p) >= 2
    assert pq.read_table(p).equals(t)


def test_multipage_encrypted_pyarrow_decrypts(tmp_path):
    """The reference reader (arrow-C++) authenticates per-page AAD
    ordinals — a multi-page encrypted chunk proves our page_ord wiring."""
    pe = pytest.importorskip("pyarrow.parquet.encryption")
    from tests.test_parquet_encrypted_interop import _Kms

    t = _big_table(20_000, with_nulls=False)
    key = bytes(range(16))
    p = str(tmp_path / "enc.parquet")
    write_parquet(
        t, p, encryption_key=key,
        encryption_kms_wrap=lambda dek, mid: base64.b64encode(dek),
        encryption_key_metadata=(
            b'{"keyMaterialType":"PKMT1","internalStorage":true,'
            b'"isFooterKey":true,"kmsInstanceID":"DEFAULT",'
            b'"kmsInstanceURL":"DEFAULT","masterKeyID":"fk","wrappedDEK":"'
            + base64.b64encode(key) + b'","doubleWrapping":false}'))
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    dprops = factory.file_decryption_properties(pe.KmsConnectionConfig())
    ref = pq.ParquetFile(p, decryption_properties=dprops).read()
    assert ref.equals(t)
    # and our own interop reader agrees
    ours = pi.read_table_arrow_native(
        p, kms_unwrap=lambda w, m: base64.b64decode(w))
    assert ours.equals(t)


def test_small_chunks_stay_single_page(tmp_path):
    t = pa.table({"x": pa.array([1, 2, 3], pa.int64()),
                  "s": pa.array(["a", None, "c"])})
    p = str(tmp_path / "s.parquet")
    write_parquet(t, p)
    assert _n_pages(p, 0) == 1 and _n_pages(p, 1) == 1
    assert pq.read_table(p).equals(t)


# --------------------------- page indexes (C7 export) ------------------------


def _parse_indexes(path, rg=0, col=0):
    import struct as st
    buf = memoryview(open(path, "rb").read())
    (flen,) = st.unpack("<I", buf[-8:-4])
    fmd, _ = pi._read_struct(buf, len(buf) - 8 - flen)
    cc = fmd[4][rg][1][col]
    ci = pi._read_struct(buf, cc[6])[0] if 6 in cc else None
    oi = pi._read_struct(buf, cc[4])[0] if 4 in cc else None
    return ci, oi


def test_page_indexes_present_and_exact(tmp_path):
    import struct as st
    n = 50_000
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                  "pad": pa.array([f"q{i:09d}" * 8 for i in range(n)])})
    p = str(tmp_path / "i.parquet")
    write_parquet(t, p)
    md = pq.ParquetFile(p).metadata.row_group(0)
    assert md.column(0).has_column_index and md.column(0).has_offset_index
    ci, oi = _parse_indexes(p, col=1)  # pad column: multiple pages
    locs = oi[1]
    assert len(locs) > 1
    ci_k, oi_k = _parse_indexes(p, col=0)
    mins = [st.unpack("<q", v)[0] for v in ci_k[2]]
    maxs = [st.unpack("<q", v)[0] for v in ci_k[3]]
    first = [l[3] for l in oi_k[1]] + [n]
    # each page's bounds are exactly its row range for this sequential column
    assert mins == first[:-1]
    assert maxs == [b - 1 for b in first[1:]]
    # OffsetIndex locations tile the chunk (offset+size = next offset)
    for a, b in zip(oi_k[1], oi_k[1][1:]):
        assert a[1] + a[2] == b[1]


def test_page_index_null_accounting(tmp_path):
    n = 30_000
    vals = [None if i % 7 == 0 else i for i in range(n)]
    t = pa.table({"v": pa.array(vals, pa.int64()),
                  "allnull": pa.array([None] * n, pa.int64())})
    p = str(tmp_path / "nulls.parquet")
    write_parquet(t, p)
    ci, oi = _parse_indexes(p, col=0)
    assert sum(ci[5]) == sum(v is None for v in vals)
    ci2, _ = _parse_indexes(p, col=1)
    assert ci2[1] == [True] and ci2[2] == [b""] and ci2[3] == [b""]


def test_page_index_omitted_when_bounds_unrepresentable(tmp_path):
    # all-0xFF max: chunk gets an OffsetIndex but no ColumnIndex
    t = pa.table({"b": pa.array([b"\xff" * 100, b"\x01"], pa.binary())})
    p = str(tmp_path / "ff.parquet")
    write_parquet(t, p)
    md = pq.ParquetFile(p).metadata.row_group(0).column(0)
    assert md.has_offset_index and not md.has_column_index


def test_page_indexes_skipped_for_encrypted_files(tmp_path):
    t = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    p = str(tmp_path / "e.parquet")
    write_parquet(t, p, encryption_key=bytes(range(32)))
    import struct as st
    buf = memoryview(open(p, "rb").read())
    # plaintext indexes would leak bounds; assert no CC fields 4/6 exist
    ours = pi.read_table_arrow_native(p, kms_unwrap=bytes(range(32)))
    assert ours.equals(t)


def test_spark_filters_correct_over_page_indexed_file(tmp_path, spark):
    """parquet-mr uses ColumnIndex for page-level row filtering when
    filters push down — a wrong index silently drops rows, so filtered
    results doubling as ground truth IS the differential."""
    n = 400_000
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                  "s": pa.array([f"doc-{i:09d}" for i in range(n)]),
                  "pad": pa.array(["q" * 120] * n)})
    p = str(tmp_path / "big.parquet")
    write_parquet(t, p)  # one row group, many pages per chunk
    df = spark.read.parquet(p)
    r = df.filter("k >= 150000 and k <= 150100") \
          .selectExpr("count(*) c", "min(k) mn", "max(k) mx").collect()[0]
    assert (r.c, r.mn, r.mx) == (101, 150000, 150100)
    r2 = df.filter("s = 'doc-000333333'").selectExpr(
        "count(*) c", "min(k) k").collect()[0]
    assert (r2.c, r2.k) == (1, 333333)
    assert df.filter("k < 0").count() == 0


# ------------------------- DATA_PAGE_V2 export option -------------------------


def _v2_table(n=20_000):
    rng = np.random.default_rng(13)
    return pa.table({
        "html": pa.array([None if i % 401 == 0 else f"<p{i}>" + "z" * int(v)
                          for i, v in enumerate(rng.integers(300, 900, n))]),
        "lang": pa.array([["en", "de", "fr"][i % 3] for i in range(n)]),
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "f": pa.array(rng.normal(size=n)),
        "bo": pa.array(np.arange(n) % 3 == 0),
        "ls": pa.array([[i, None, i * 2] if i % 5 else None
                        for i in range(n)], pa.list_(pa.int64())),
    })


def test_v2_export_roundtrips_in_three_readers(tmp_path):
    t = _v2_table()
    p = str(tmp_path / "v2.parquet")
    write_parquet(t, p, data_page_version=2, row_group_rows=8_000,
                  column_encoding={"k": "delta_binary_packed",
                                   "f": "byte_stream_split"})
    back = pq.read_table(p)
    for c in t.column_names:
        assert back[c].combine_chunks().equals(t[c].combine_chunks()), c
    assert pi.read_table_arrow_native(p).equals(t)
    con = duckdb.connect()
    assert con.execute(
        f"select count(*), min(k), max(k) from read_parquet('{p}')"
    ).fetchone() == (t.num_rows, 0, t.num_rows - 1)


def test_v2_export_uses_rle_dictionary_pairing(tmp_path):
    t = pa.table({"lang": pa.array(["en", "de", "en", "fr"] * 100)})
    p = str(tmp_path / "d.parquet")
    write_parquet(t, p, data_page_version=2)
    import struct as st
    buf = memoryview(open(p, "rb").read())
    (flen,) = st.unpack("<I", buf[-4 - 4:-4])
    fmd, _ = pi._read_struct(buf, len(buf) - 8 - flen)
    encs = fmd[4][0][1][0][3][2]  # rg0 chunk0 ColumnMetaData.encodings
    assert 8 in encs and 2 not in encs  # RLE_DICTIONARY, no PLAIN_DICTIONARY
    assert pq.read_table(p).equals(t)


def test_v2_export_page_type_is_data_page_v2(tmp_path):
    t = pa.table({"k": pa.array([1, None, 3], pa.int64())})
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, data_page_version=2, use_dictionary=False)
    ft = pi.read_footer_native(p)
    cm = ft["row_groups"][0][0]
    hdr, _ = pi._read_struct(ft["buf"], cm.data_page_offset)
    assert hdr[1] == 3 and 8 in hdr  # PageType.DATA_PAGE_V2 + its header
    v2 = hdr[8]
    assert v2[1] == 3 and v2[2] == 1 and v2[3] == 3  # values/nulls/rows


def test_v2_export_encrypted_reference_decrypts(tmp_path):
    pe = pytest.importorskip("pyarrow.parquet.encryption")
    from tests.test_parquet_encrypted_interop import _Kms

    t = _v2_table(8_000)
    key = bytes(range(16))
    p = str(tmp_path / "v2e.parquet")
    write_parquet(
        t, p, data_page_version=2, encryption_key=key,
        encryption_kms_wrap=lambda dek, mid: base64.b64encode(dek),
        encryption_key_metadata=(
            b'{"keyMaterialType":"PKMT1","internalStorage":true,'
            b'"isFooterKey":true,"kmsInstanceID":"DEFAULT",'
            b'"kmsInstanceURL":"DEFAULT","masterKeyID":"fk","wrappedDEK":"'
            + base64.b64encode(key) + b'","doubleWrapping":false}'))
    factory = pe.CryptoFactory(lambda config: _Kms(config))
    dprops = factory.file_decryption_properties(pe.KmsConnectionConfig())
    assert pq.ParquetFile(p, decryption_properties=dprops).read().equals(t)
    assert pi.read_table_arrow_native(
        p, kms_unwrap=lambda w, m: base64.b64decode(w)).equals(t)


def test_v2_export_spark_reads_with_filters(tmp_path, spark):
    t = _v2_table(12_000)
    p = str(tmp_path / "v2s.parquet")
    write_parquet(t, p, data_page_version=2)
    df = spark.read.parquet(p)
    assert df.count() == t.num_rows
    assert df.filter("k = 777").collect()[0].lang == ["en", "de", "fr"][777 % 3]


@pytest.mark.parametrize("vals", [
    [True, False, None, True] * 1000,       # mixed with nulls, multi-page run
    [True] * 7,                              # constant run
    [False],                                 # single row
    [True, None],                            # null tail
])
def test_v2_boolean_values_are_rle(tmp_path, vals):
    # v2 writer-version convention (parquet-format spec: RLE is the
    # preferred boolean encoding for DataPageV2): values ship as a
    # u32-length-prefixed RLE/bit-pack hybrid stream, not PLAIN bits.
    t = pa.table({"b": pa.array(vals, type=pa.bool_())})
    p = str(tmp_path / "b.parquet")
    write_parquet(t, p, data_page_version=2)
    back = pq.read_table(p)
    assert back["b"].combine_chunks().equals(t["b"].combine_chunks())
    assert pi.read_table_arrow_native(p).equals(t)
    md = pq.ParquetFile(p).metadata.row_group(0).column(0)
    assert md.encodings == ("RLE",)
    con = duckdb.connect()
    n_true, n = con.execute(
        f"select count(*) filter (where b), count(*) "
        f"from read_parquet('{p}')").fetchone()
    assert n == len(vals) and n_true == sum(1 for v in vals if v)


def test_v2_rejects_bad_version(tmp_path):
    t = pa.table({"k": pa.array([1], pa.int64())})
    with pytest.raises(ValueError, match="data_page_version"):
        write_parquet(t, str(tmp_path / "x.parquet"), data_page_version=3)


# ----------------- DELTA_BYTE_ARRAY / DELTA_LENGTH_BYTE_ARRAY export ----------


def _url_table(n=60_000):
    urls = sorted(f"https://site{i % 53:03d}.example/path/{i:08d}"
                  for i in range(n))
    return pa.table({
        "url": pa.array([None if i % 509 == 0 else urls[i]
                         for i in range(n)]),
        "txt": pa.array([None if i % 401 == 0 else f"body {i * 37 % 9973} t"
                         for i in range(n)]),
        "b": pa.array([bytes([i % 256, (i * 7) % 256]) for i in range(n)],
                      pa.binary()),
    })


@pytest.mark.parametrize("ver", [1, 2])
def test_dba_dlba_export_roundtrips(tmp_path, ver):
    t = _url_table()
    p = str(tmp_path / f"d{ver}.parquet")
    write_parquet(t, p, data_page_version=ver,
                  column_encoding={"url": "delta_byte_array",
                                   "txt": "delta_length_byte_array",
                                   "b": "delta_byte_array"})
    back = pq.read_table(p)
    for c in t.column_names:
        assert back[c].combine_chunks().equals(t[c].combine_chunks()), c
    assert pi.read_table_arrow_native(p).equals(t)
    con = duckdb.connect()
    assert con.execute(
        f"select count(*) from read_parquet('{p}') where url like '%/path/%'"
    ).fetchone()[0] == sum(v is not None for v in t["url"].to_pylist())


def test_dba_beats_plain_on_sorted_urls(tmp_path):
    import os
    t = _url_table().select(["url"])
    plain, dba = str(tmp_path / "p.parquet"), str(tmp_path / "d.parquet")
    write_parquet(t, plain, use_dictionary=False)
    write_parquet(t, dba, column_encoding={"url": "delta_byte_array"})
    assert os.path.getsize(dba) < 0.5 * os.path.getsize(plain)


def test_dba_export_spark_reads(tmp_path, spark):
    t = _url_table(20_000)
    p = str(tmp_path / "s.parquet")
    write_parquet(t, p, column_encoding={"url": "delta_byte_array"})
    df = spark.read.parquet(p)
    assert df.count() == t.num_rows
    got = df.filter("url like '%/path/00000777'").collect()
    assert len(got) == 1


def test_dba_rejects_non_string_column(tmp_path):
    t = pa.table({"k": pa.array([1], pa.int64())})
    with pytest.raises(TypeError, match="delta_byte_array"):
        write_parquet(t, str(tmp_path / "x.parquet"),
                      column_encoding={"k": "delta_byte_array"})


def test_dba_empty_and_all_null_pages(tmp_path):
    t = pa.table({"s": pa.array([None, None], pa.string())})
    p = str(tmp_path / "n.parquet")
    write_parquet(t, p, column_encoding={"s": "delta_byte_array"})
    assert pq.read_table(p).equals(t)
