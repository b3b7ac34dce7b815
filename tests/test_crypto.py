"""C12 modular encryption (AES-GCM per page + signed plaintext footer):
round-trips, wrong-key / missing-key errors, tamper and relocation
detection, pruning on encrypted files, Spark job-API + DataSource e2e."""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pytest

from webcodec import crypto as wcrypto
from webcodec import filefmt
from webcodec.config import EncoderConfig

KEY = bytes(range(32))
KEY2 = bytes(range(1, 33))


def _table(n=5_000, seed=0):
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "de", "fr", "pt"])[rng.integers(0, 4, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "lang": pa.array(langs),
        "text": pa.array([f"text body {i % 97} {'x' * (i % 31)}" for i in range(n)]),
        "score": pa.array(rng.standard_normal(n), pa.float64()),
    })


@pytest.fixture()
def enc_file(tmp_path):
    t = _table()
    path = str(tmp_path / "enc.wcd")
    footer = filefmt.write_table(
        t, path, EncoderConfig(encryption_key=KEY, encryption_key_id="k1"))
    return path, t, footer


def test_roundtrip_and_footer_metadata(enc_file):
    path, t, footer = enc_file
    enc = footer["encryption"]
    assert enc["algorithm"] == "AES_GCM_V2" and enc["key_id"] == "k1"
    got = filefmt.read_table(path, encryption_key=KEY)
    assert got.equals(t)


def test_missing_or_wrong_key(enc_file):
    path, _, _ = enc_file
    with pytest.raises(ValueError, match="key_id='k1'"):
        filefmt.read_table(path)
    with pytest.raises(ValueError, match="footer signature|decryption"):
        filefmt.read_table(path, encryption_key=KEY2)


def test_plaintext_file_ignores_key(tmp_path):
    t = _table(500)
    path = str(tmp_path / "plain.wcd")
    filefmt.write_table(t, path)
    assert filefmt.read_table(path, encryption_key=KEY).equals(t)


def test_projection_and_pruning_on_encrypted(enc_file):
    path, t, _ = enc_file
    got = filefmt.read_table(path, columns=["doc_id", "lang"],
                             predicate=("lang", "==", "de"),
                             encryption_key=KEY)
    import pyarrow.compute as pc

    want = t.filter(pc.equal(t.column("lang"), "de"))
    assert got.num_rows == want.num_rows
    assert got.column_names == ["doc_id", "lang"]
    assert got.column("doc_id").to_pylist() == want.column("doc_id").to_pylist()


def test_page_tamper_detected(enc_file):
    path, _, footer = enc_file
    # flip one byte inside the first data page's ciphertext
    chunk = footer["chunks"][0]
    pm = chunk["pages"][0]
    with open(path, "r+b") as f:
        f.seek(pm["offset"] + pm["size"] - 3)  # inside the GCM tag
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    # CRC over ciphertext catches it first; with CRC off, GCM catches it
    with pytest.raises(ValueError, match="crc|decryption"):
        filefmt.read_table(path, encryption_key=KEY)
    with pytest.raises(ValueError, match="decryption failed"):
        filefmt.read_table(path, verify_crc=False, encryption_key=KEY)


def test_footer_tamper_detected(enc_file):
    path, _, _ = enc_file
    data = bytearray(open(path, "rb").read())
    # doctor the plaintext footer: claim one fewer row, fix the length+crc
    import json as _json
    import zlib

    flen, _ = struct.unpack("<II", data[-12:-4])
    fj = _json.loads(bytes(data[-12 - flen:-12]))
    fj["num_rows"] -= 1
    nj = _json.dumps(fj, separators=(",", ":")).encode()
    data = data[: -12 - flen] + nj + struct.pack("<II", len(nj), zlib.crc32(nj)) + b"WCD1"
    with pytest.raises(ValueError, match="footer signature"):
        filefmt.read_table(bytes(data), encryption_key=KEY)


def test_page_relocation_detected(tmp_path):
    """Swap the payloads of two same-size pages (doc_id vs score chunks):
    each page authenticates its chunk identity, so decode must fail."""
    t = _table(4_000, seed=2)
    path = str(tmp_path / "swap.wcd")
    footer = filefmt.write_table(
        t, path, EncoderConfig(encryption_key=KEY, write_page_checksum=False))
    by_name = {c["name"]: c for c in footer["chunks"]}
    p1 = by_name["doc_id"]["pages"][0]
    p2 = by_name["score"]["pages"][0]
    data = bytearray(open(path, "rb").read())
    h = filefmt.PAGE_HEADER.size

    def payload(pm):
        return bytes(data[pm["offset"] + h: pm["offset"] + pm["size"]])

    a, b = payload(p1), payload(p2)
    n = min(len(a), len(b))
    data[p1["offset"] + h: p1["offset"] + h + n] = b[:n]
    with pytest.raises(ValueError, match="decryption failed"):
        filefmt.read_table(bytes(data), encryption_key=KEY)


def test_append_files_refuses_encrypted(tmp_path):
    t = _table(500)
    cfg = EncoderConfig(encryption_key=KEY)
    p1, p2 = str(tmp_path / "a.wcd"), str(tmp_path / "b.wcd")
    filefmt.write_table(t, p1, cfg)
    filefmt.write_table(t, p2, cfg)
    with pytest.raises(ValueError, match="byte-merge"):
        filefmt.append_files(str(tmp_path / "m.wcd"), [p1, p2])


def test_write_batches_multigroup_encrypted(tmp_path):
    t = _table(6_000, seed=3)
    path = str(tmp_path / "groups.wcd")
    footer = filefmt.write_batches(
        iter(t.to_batches(max_chunksize=1_000)), path,
        EncoderConfig(encryption_key=KEY), group_target_bytes=64 << 10)
    assert footer.get("groups") and len(footer["groups"]) > 1
    got = filefmt.read_table(path, encryption_key=KEY)
    assert got.equals(t)


def test_nested_types_encrypted(tmp_path):
    t = pa.table({
        "id": pa.array(range(300), pa.int64()),
        "s": pa.array([{"a": i, "b": [f"w{i}", "q"]} if i % 5 else None
                       for i in range(300)],
                      pa.struct([("a", pa.int64()), ("b", pa.list_(pa.string()))])),
    })
    path = str(tmp_path / "nested.wcd")
    filefmt.write_table(t, path, EncoderConfig(encryption_key=KEY))
    got = filefmt.read_table(path, encryption_key=KEY)
    assert got.equals(t)


# ------------------------------- Spark e2e -----------------------------------


def test_encode_table_encrypted_e2e(spark, tmp_path):
    import pyarrow.parquet as pq

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    t = _table(4_000, seed=5)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src, row_group_size=500)
    out = str(tmp_path / "tbl")
    df = spark.read.parquet(src)
    encode_table(df, out, EncoderConfig(encryption_key=KEY, encryption_key_id="k1"),
                 write_metrics=False, target_partition_bytes=1 << 18)
    # keyless read fails with the key_id in the message
    with pytest.raises(Exception, match="k1"):
        read_encoded(spark, out).count()
    back = read_encoded(spark, out, encryption_key=KEY)
    assert back.count() == t.num_rows
    sel = read_encoded(spark, out, predicate=[("lang", "==", "fr")],
                       encryption_key=KEY)
    import pyarrow.compute as pc

    assert sel.count() == pc.sum(pc.equal(t.column("lang"), "fr")).as_py()


def test_datasource_encrypted_e2e(spark, tmp_path):
    import pyarrow.parquet as pq

    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)
    t = _table(2_000, seed=7)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "ds_tbl")
    (spark.read.parquet(src).write.format("webcodec").option("path", out)
        .option("encryption_key_hex", KEY.hex())
        .option("encryption_key_id", "k1").mode("append").save())
    back = (spark.read.format("webcodec").option("path", out)
            .option("encryption_key_hex", KEY.hex()).load())
    assert back.count() == t.num_rows
    assert back.filter("lang = 'en'").count() == \
        sum(1 for v in t.column("lang").to_pylist() if v == "en")


def test_rewrite_encrypted_source(spark, tmp_path):
    import pyarrow.parquet as pq

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import rewrite_encoded

    t = _table(1_500, seed=9)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    enc_tbl = str(tmp_path / "enc_tbl")
    encode_table(spark.read.parquet(src), enc_tbl,
                 EncoderConfig(encryption_key=KEY), write_metrics=False)
    # transcode encrypted -> re-keyed encrypted
    out = str(tmp_path / "rekeyed")
    rewrite_encoded(spark, enc_tbl, out,
                    EncoderConfig(encryption_key=KEY2, encryption_key_id="k2"),
                    source_encryption_key=KEY)
    back = read_encoded(spark, out, encryption_key=KEY2)
    assert back.count() == t.num_rows


def test_cross_group_page_swap_detected(tmp_path):
    """Multi-group file (write_batches): the AAD chain includes the row-group
    ordinal, so swapping same-slot pages between two groups must fail —
    without the ordinal both pages would share (file, chunk, first_row,
    n_values) identity and the swap would decode 'successfully'."""
    n = 4_000
    t = pa.table({"doc_id": pa.array(np.arange(n), pa.int64()),
                  "v": pa.array(np.arange(n)[::-1].copy(), pa.int64())})
    path = str(tmp_path / "g.wcd")
    footer = filefmt.write_batches(
        iter(t.to_batches(max_chunksize=2_000)), path,
        EncoderConfig(encryption_key=KEY, write_page_checksum=False,
                      page_row_count_limit=2_000),
        group_target_bytes=8 << 10)
    groups = footer["groups"]
    assert len(groups) >= 2
    c0 = next(c for c in groups[0]["chunks"] if c["name"] == "doc_id")
    c1 = next(c for c in groups[1]["chunks"] if c["name"] == "doc_id")
    p0, p1 = c0["pages"][0], c1["pages"][0]
    assert (p0["first_row"], p0["n_values"]) == (p1["first_row"], p1["n_values"])
    data = bytearray(open(path, "rb").read())
    h = filefmt.PAGE_HEADER.size
    a = bytes(data[p0["offset"] + h: p0["offset"] + p0["size"]])
    b = bytes(data[p1["offset"] + h: p1["offset"] + p1["size"]])
    nb = min(len(a), len(b))
    data[p0["offset"] + h: p0["offset"] + h + nb] = b[:nb]
    with pytest.raises(ValueError, match="decryption failed"):
        filefmt.read_table(bytes(data), encryption_key=KEY)


def test_per_file_dek_derivation(tmp_path):
    """Each file encrypts under its own HKDF-derived DEK (distinct stored
    salts); the master key alone decrypts both."""
    import base64

    t = _table(400)
    cfg = EncoderConfig(encryption_key=KEY)
    f1, f2 = str(tmp_path / "a.wcd"), str(tmp_path / "b.wcd")
    e1 = filefmt.write_table(t, f1, cfg)["encryption"]
    e2 = filefmt.write_table(t, f2, cfg)["encryption"]
    assert e1["dek_salt"] != e2["dek_salt"]
    assert e1["aad_prefix"] != e2["aad_prefix"]
    d1 = wcrypto.derive_dek(KEY, base64.b64decode(e1["dek_salt"]))
    d2 = wcrypto.derive_dek(KEY, base64.b64decode(e2["dek_salt"]))
    assert d1 != d2 and d1 != KEY
    assert filefmt.read_table(f1, encryption_key=KEY).equals(t)
    assert filefmt.read_table(f2, encryption_key=KEY).equals(t)


def test_delete_where_and_export_on_encrypted(spark, tmp_path):
    import pyarrow.parquet as pq

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import delete_where, export_parquet

    t = _table(1_200, seed=11)
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "tbl")
    encode_table(spark.read.parquet(src), out,
                 EncoderConfig(encryption_key=KEY), write_metrics=False)
    res = delete_where(spark, out, ("lang", "==", "pt"), encryption_key=KEY)
    import pyarrow.compute as pc

    n_pt = pc.sum(pc.equal(t.column("lang"), "pt")).as_py()
    assert res["deleted_rows"] == n_pt
    assert read_encoded(spark, out, encryption_key=KEY).count() == t.num_rows - n_pt
    # export decrypts into plaintext interchange parquet
    exp = str(tmp_path / "exp")
    export_parquet(spark, out, exp, encryption_key=KEY)
    # the export is the current snapshot: deleted rows stay deleted
    assert pq.read_table(exp).num_rows == t.num_rows - n_pt


def test_streaming_source_encrypted(spark, tmp_path):
    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)
    t = _table(800, seed=13)
    import pyarrow.parquet as pq

    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "tbl")
    (spark.read.parquet(src).write.format("webcodec").option("path", out)
        .option("encryption_key_hex", KEY.hex()).mode("append").save())
    sink = str(tmp_path / "sink")
    q = (spark.readStream.format("webcodec").option("path", out)
         .option("encryption_key_hex", KEY.hex()).load()
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == t.num_rows


# ---------------------- encrypted-footer mode (r4) ----------------------


def _enc_footer_cfg(**kw):
    return EncoderConfig(encryption_key=KEY, encryption_key_id="k-ef",
                         encryption_footer_mode="encrypted", **kw)


def test_encrypted_footer_roundtrip(tmp_path):
    t = _table()
    path = str(tmp_path / "ef.wcd")
    footer = filefmt.write_table(t, path, _enc_footer_cfg())
    # the RETURNED footer is the inner one (has chunks); the DISK footer is
    # the wrapper
    assert footer["encryption"]["footer_mode"] == "encrypted"
    got = filefmt.read_table(path, encryption_key=KEY)
    assert got.equals(t)


def test_encrypted_footer_keyless_read_reveals_only_key_id(tmp_path):
    t = _table(1_000)
    path = str(tmp_path / "ef.wcd")
    filefmt.write_table(t, path, _enc_footer_cfg())
    with pytest.raises(ValueError, match="footer is encrypted.*k-ef"):
        filefmt.read_footer_path(path)
    with pytest.raises(ValueError, match="footer is encrypted"):
        filefmt.read_table(path)
    # confidentiality: no schema/chunk/stat material in the raw tail bytes
    with open(path, "rb") as f:
        raw = f.read()
    for secret in (b'"chunks"', b'"schema"', b'"stats"', b"doc_id", b"lang",
                   b'"min"', b'"bloom"'):
        assert secret not in raw, secret
    # only the bootstrap fields are plaintext
    assert b"AES_GCM_V2" in raw and b"k-ef" in raw


def test_encrypted_footer_wrong_key_and_tamper(tmp_path):
    t = _table(1_000)
    path = str(tmp_path / "ef.wcd")
    filefmt.write_table(t, path, _enc_footer_cfg())
    with pytest.raises(ValueError, match="footer decryption failed"):
        filefmt.read_table(path, encryption_key=KEY2)
    # flip one ciphertext byte of the footer blob (keep the CRC valid by
    # recomputing it, like an attacker would)
    import base64
    import json as _json
    import struct as _struct
    import zlib as _zlib

    with open(path, "rb") as f:
        data = bytearray(f.read())
    flen = _struct.unpack("<I", data[-12:-8])[0]
    fj = _json.loads(bytes(data[-12 - flen:-12]))
    blob = bytearray(base64.b64decode(fj["encrypted_footer"]["footer"]))
    blob[20] ^= 0xFF
    fj["encrypted_footer"]["footer"] = base64.b64encode(bytes(blob)).decode()
    nj = _json.dumps(fj, separators=(",", ":")).encode()
    data = data[: len(data) - 12 - flen] + nj + _struct.pack(
        "<II", len(nj), _zlib.crc32(nj)) + filefmt.MAGIC
    with pytest.raises(ValueError, match="footer decryption failed"):
        filefmt.read_table(bytes(data), encryption_key=KEY)


def test_encrypted_footer_predicate_and_projection(tmp_path):
    """Page pruning / projection still work once the key is presented."""
    t = _table(8_000)
    path = str(tmp_path / "ef.wcd")
    filefmt.write_table(t, path, _enc_footer_cfg())
    got = filefmt.read_table(path, columns=["doc_id", "lang"],
                             predicate=("lang", "==", "en"),
                             encryption_key=KEY)
    want = [v for v in t.column("lang").to_pylist() if v == "en"]
    assert got.num_rows == len(want)
    assert got.column_names == ["doc_id", "lang"]


def test_encrypted_footer_append_files_refuses(tmp_path):
    t = _table(500)
    p1, p2 = str(tmp_path / "a.wcd"), str(tmp_path / "b.wcd")
    filefmt.write_table(t, p1, _enc_footer_cfg())
    filefmt.write_table(t, p2, _enc_footer_cfg())
    with pytest.raises(ValueError, match="cannot byte-merge"):
        filefmt.append_files(str(tmp_path / "m.wcd"), [p1, p2])


def test_encrypted_footer_spark_job_roundtrip(tmp_path, spark):
    import pyarrow.parquet as pq2

    from webcodec.fixtures import webpages
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import delete_where

    t = webpages(1_200)
    src = str(tmp_path / "src.parquet")
    pq2.write_table(t, src)
    out = str(tmp_path / "ef_t")
    encode_table(spark.read.parquet(src), out, _enc_footer_cfg(),
                 num_partitions=3, write_metrics=False)
    got = read_encoded(spark, out, encryption_key=KEY)
    assert got.count() == t.num_rows
    # maintenance on an encrypted-footer table
    n_en = sum(1 for v in t.column("lang").to_pylist() if v == "en")
    res = delete_where(spark, out, ("lang", "==", "en"), encryption_key=KEY)
    assert res["deleted_rows"] == n_en
    assert read_encoded(spark, out, encryption_key=KEY).count() == t.num_rows - n_en
