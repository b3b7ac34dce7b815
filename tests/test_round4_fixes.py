"""Round-4 review fixes (ADVICE.md r3):

1. encryption_key threads through the equality-delete sidecar loaders —
   delete_by_key / upsert / delete_where / rewrite_encoded on a C12-encrypted
   table no longer raise "file is encrypted" when the caller supplied the key;
2. the page AAD binds the FULL plaintext page header (encoding, codec,
   n_nulls, uncompressed size) — a flipped encoding byte fails authentication;
3. compact() on an encrypted table is a safe no-op (single-file bins), never
   a mid-run crash with orphans;
4. _month_bounds_us survives out-of-datetime-range partition tuples
   (year >= 10000) — a sentinel timestamp can't break predicate planning;
5. _DELETE_POS_CACHE evicts LRU-style instead of clearing wholesale.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig
from webcodec.fixtures import webpages

KEY = bytes(range(32))

pytestmark = pytest.mark.spark


def _make_encrypted_table(spark, tmp_path, rows=1_500, n_parts=3):
    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)
    t = webpages(rows)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "enc_t")
    (spark.read.parquet(src).repartition(n_parts)
     .write.format("webcodec").mode("append").option("path", out)
     .option("encryption_key_hex", KEY.hex()).save())
    return out, t


def test_delete_by_key_on_encrypted_table(spark, tmp_path):
    """Equality-delete sidecar key-decode must use the table's key (the read
    path decodes the data file's key columns to resolve the sidecar)."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.maintenance import delete_by_key

    out, t = _make_encrypted_table(spark, tmp_path)
    urls = sorted(set(t.column("url").to_pylist()))[:20]
    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    delete_by_key(spark, out, keys, key_cols=["url"])
    got = read_encoded(spark, out, encryption_key=KEY)
    kept = got.count()
    expect = sum(1 for u in t.column("url").to_pylist() if u not in set(urls))
    assert kept == expect
    assert got.filter(got.url.isin(urls)).count() == 0


def test_upsert_on_encrypted_table(spark, tmp_path):
    """Stage-2 key-column decode of existing encrypted files must not raise;
    key defaults from the write config's encryption_key."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.maintenance import upsert

    out, t = _make_encrypted_table(spark, tmp_path)
    urls = t.column("url").to_pylist()[:30]
    upd = pa.table({
        "url": urls,
        "warc_ts": t.column("warc_ts")[:30],
        "html": pa.array([b"<new>"] * 30, pa.binary()),
        "text": pa.array(["updated row"] * 30),
        "lang": pa.array(["xx"] * 30),
    })
    src = str(tmp_path / "upsrc.parquet")
    pq.write_table(upd, src)
    res = upsert(spark, out, spark.read.parquet(src), key_cols=["url"],
                 config=EncoderConfig(encryption_key=KEY))
    assert res["superseded_rows"] == len(set(urls))
    got = read_encoded(spark, out, encryption_key=KEY)
    rows = {r["url"]: r["lang"] for r in got.collect()}
    for u in urls:
        assert rows[u] == "xx"


def test_delete_where_twice_on_encrypted_table(spark, tmp_path):
    """The second delete_where loads the FIRST call's sidecars (prior
    positions) against the encrypted data file — needs the key too."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.maintenance import delete_where

    out, t = _make_encrypted_table(spark, tmp_path)
    langs = t.column("lang").to_pylist()
    n_en = sum(1 for v in langs if v == "en")
    n_de = sum(1 for v in langs if v == "de")
    r1 = delete_where(spark, out, ("lang", "==", "en"), encryption_key=KEY)
    assert r1["deleted_rows"] == n_en
    r2 = delete_where(spark, out, ("lang", "==", "de"), encryption_key=KEY)
    assert r2["deleted_rows"] == n_de
    got = read_encoded(spark, out, encryption_key=KEY)
    assert got.count() == t.num_rows - n_en - n_de


def test_rewrite_encoded_encrypted_with_equality_deletes(spark, tmp_path):
    """rewrite materializes equality deletes on an encrypted source: the
    sidecar loader decodes the source's key columns under the source key."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.maintenance import delete_by_key, rewrite_encoded

    out, t = _make_encrypted_table(spark, tmp_path)
    urls = sorted(set(t.column("url").to_pylist()))[:10]
    keys = spark.createDataFrame([(u,) for u in urls], "url string")
    delete_by_key(spark, out, keys, key_cols=["url"])
    dst = str(tmp_path / "rewritten")
    rewrite_encoded(spark, out, dst, source_encryption_key=KEY)
    got = read_encoded(spark, dst)
    expect = sum(1 for u in t.column("url").to_pylist() if u not in set(urls))
    assert got.count() == expect


def test_compact_encrypted_table_is_safe_noop(spark, tmp_path):
    """compact() must not crash mid-run (orphans, no commit) on encrypted
    files; they stay in single-file bins."""
    from webcodec.spark.maintenance import compact
    from webcodec.spark.table import SnapshotTable

    out, t = _make_encrypted_table(spark, tmp_path, n_parts=4)
    tbl = SnapshotTable(out)
    before = tbl.read_snapshot()
    n_files_before = len(os.listdir(os.path.join(out, "data")))
    snap = compact(out, target_bytes=1 << 30)
    # no-op: same file set, no orphan merged outputs on disk
    assert {f["path"] for f in snap["files"]} == {f["path"] for f in before["files"]}
    assert len(os.listdir(os.path.join(out, "data"))) == n_files_before


def test_manifest_records_encrypted_flag(spark, tmp_path):
    from webcodec.spark.table import SnapshotTable

    out, _ = _make_encrypted_table(spark, tmp_path)
    snap = SnapshotTable(out).read_snapshot()
    assert all(f.get("encrypted") for f in snap["files"])


def test_page_header_tamper_fails_authentication(tmp_path):
    """Flipping ANY header identity byte (encoding, codec, n_nulls, usize)
    of an encrypted page must fail GCM authentication, not silently decode
    permuted values — the CRC alone is attacker-recomputable."""
    import zlib

    t = webpages(2_000)
    path = str(tmp_path / "enc.wcd")
    filefmt.write_table(t, path, EncoderConfig(encryption_key=KEY))
    with open(path, "rb") as f:
        data = bytearray(f.read())
    footer = filefmt.read_footer(memoryview(bytes(data)))
    chunk = next(c for c in footer["chunks"] if c["name"] == "warc_ts")
    page = chunk["pages"][0]
    off = page["offset"]
    h = bytearray(data[off:off + filefmt.PAGE_HEADER.size])
    fields = list(filefmt.PAGE_HEADER.unpack(bytes(h)))
    # field order: ptype, enc, codec, phys, n_values, n_nulls, usize, csize, crc, first_row
    fields[1] = (fields[1] + 1) % 16          # encoding flip
    csize = fields[7]
    payload = bytes(data[off + filefmt.PAGE_HEADER.size:
                         off + filefmt.PAGE_HEADER.size + csize])
    fields[8] = zlib.crc32(payload)           # recompute CRC like an attacker
    data[off:off + filefmt.PAGE_HEADER.size] = filefmt.PAGE_HEADER.pack(*fields)
    with pytest.raises(ValueError, match="decryption|tamper"):
        filefmt.read_table(bytes(data), encryption_key=KEY)


def test_month_bounds_extreme_years():
    """Partition tuples from sentinel timestamps (year >= 10000 or < 1) must
    not raise at plan time."""
    from webcodec.spark.partition import _month_bounds_us

    # year 10000 (months since epoch = (10000-1970)*12)
    lo, hi = _month_bounds_us((10000 - 1970) * 12)
    assert lo < hi
    # year 0 (negative months)
    lo2, hi2 = _month_bounds_us((0 - 1970) * 12)
    assert lo2 < hi2 < lo
    # sanity vs datetime for an in-range month
    import datetime
    lo3, hi3 = _month_bounds_us((2024 - 1970) * 12 + 5)  # June 2024
    assert lo3 == int(datetime.datetime(2024, 6, 1,
                                        tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    assert hi3 == int(datetime.datetime(2024, 7, 1,
                                        tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000 - 1


def test_file_may_match_extreme_partition_tuple(tmp_path):
    """file_may_match on a months-partition tuple beyond year 9999 keeps the
    file conservatively instead of raising."""
    from webcodec.spark.partition import file_may_match

    import datetime

    spec = [{"col": "warc_ts", "kind": "months", "name": "warc_ts_month", "arg": None}]
    fpart = {"warc_ts_month": (10500 - 1970) * 12}
    val = datetime.datetime(2020, 1, 1)
    assert file_may_match(spec, fpart, "warc_ts", ">=", val,
                          "timestamp") is True  # keeps the far-future file
    assert file_may_match(spec, fpart, "warc_ts", "<=", val,
                          "timestamp") is False  # and prunes on the other side


def test_delete_pos_cache_lru_eviction(tmp_path):
    """Filling the cache past capacity evicts the OLDEST entry, not all."""
    from webcodec.spark import decode_job

    decode_job._DELETE_POS_CACHE.clear()
    t = webpages(100)
    dpath = str(tmp_path / "d.wcd")
    filefmt.write_table(t, dpath, EncoderConfig())
    sidecars = []
    for i in range(18):
        sc = str(tmp_path / f"del-{i}.bin")
        with open(sc, "wb") as f:
            f.write(np.array([i], dtype="<i8").tobytes())
        sidecars.append(sc)
    for i in range(17):
        decode_job.cached_delete_positions(dpath, [sidecars[i]])
    assert len(decode_job._DELETE_POS_CACHE) == 16
    # entry 0 evicted, entry 16 (most recent) still present
    keys = list(decode_job._DELETE_POS_CACHE)
    assert all(k[1][0] != sidecars[0] for k in keys)
    assert any(k[1][0] == sidecars[16] for k in keys)
    decode_job._DELETE_POS_CACHE.clear()


def test_hot_domain_sampling_scales_with_row_groups(tmp_path):
    """sample_domain_histogram with max_row_groups=None samples a quarter of
    the row groups (clamped [8, 64]) — a hot domain spread over a
    32-row-group file is detected, and the evenly-spaced stride covers the
    back half of the table."""
    import pyarrow.parquet as pq

    from webcodec.spark.encode_job import sample_domain_histogram

    rows_per_group = 500
    tables = []
    for g in range(32):
        # the hot domain only appears in the back half of the file
        hot = ["https://hot.example/x"] * (rows_per_group // 2 if g >= 16 else 0)
        cold = [f"https://cold{g}-{i}.example/y"
                for i in range(rows_per_group - len(hot))]
        tables.append(pa.table({"url": pa.array(hot + cold)}))
    path = str(tmp_path / "many_rg.parquet")
    writer = pq.ParquetWriter(path, tables[0].schema)
    for t in tables:
        writer.write_table(t, row_group_size=rows_per_group)
    writer.close()
    assert pq.ParquetFile(path).metadata.num_row_groups == 32
    head = sample_domain_histogram([path], "url", min_est_rows=1_001)
    # 16 groups x 250 hot rows; 8 sampled groups, 4 of them in the back half
    assert head == {"hot.example": 4_000}
