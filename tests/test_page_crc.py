"""Page-level CRC-32 (PageHeader field 4) — parquet-mr writes these by
default and verifies them when `parquet.page.verify-checksum.enabled` is
set. Our export now stamps crc on every plaintext page (v1 + v2 + dict;
encrypted pages rely on GCM integrity instead, like parquet-java), and
the native reader verifies on request (`verify_checksums=True`). The crc
covers the compressed page payload after the header — pinned empirically
against a Spark-written page before implementing.

Reference differentials: (1) our reader verifies Spark-written crcs and
catches a flipped payload byte; (2) Spark with verification enabled reads
OUR files clean and rejects a corrupted one."""

import glob
import struct
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import parquet_interop as pi
from webcodec.parquet_writer import write_parquet


def _table(n=20_000):
    return pa.table({
        "s": pa.array([None if i % 11 == 5 else f"val-{i}"
                       for i in range(n)]),
        "n": pa.array(range(n)),
        "tags": pa.array([[f"t{i % 7}"] if i % 2 else None
                          for i in range(n)], pa.list_(pa.string())),
    })


def _first_page_payload_span(path):
    """(payload_offset, payload_len, stored_crc) of the first page."""
    with open(path, "rb") as fh:
        buf = memoryview(fh.read())
    (flen,) = struct.unpack("<I", buf[-8:-4])
    fmd, _ = pi._read_struct(buf, len(buf) - 8 - flen)
    md = fmd[4][0][1][0][3]
    pos = md.get(11) if md.get(11) is not None else md[9]
    hdr, p2 = pi._read_struct(buf, pos)
    return p2, hdr[3], hdr.get(4)


@pytest.mark.parametrize("pv", [1, 2])
def test_our_pages_carry_valid_crc(tmp_path, pv):
    t = _table()
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p, data_page_version=pv)
    off, ln, crc = _first_page_payload_span(p)
    assert crc is not None
    with open(p, "rb") as fh:
        raw = fh.read()
    assert zlib.crc32(raw[off:off + ln]) == crc % (1 << 32)
    # clean verified read equals the table
    assert pi.read_table_arrow_native(p, verify_checksums=True).equals(t)
    assert pq.read_table(p).equals(t)


def test_reader_detects_flipped_byte(tmp_path):
    t = _table(5_000)
    p = str(tmp_path / "t.parquet")
    write_parquet(t, p)
    off, ln, _ = _first_page_payload_span(p)
    raw = bytearray(open(p, "rb").read())
    raw[off + ln // 2] ^= 0x01
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC mismatch"):
        pi.read_table_arrow_native(p, verify_checksums=True)


def test_verify_spark_written_crcs(tmp_path, spark):
    import pyspark.sql.functions as F

    d = str(tmp_path / "sp")
    spark.range(10_000).select(
        F.concat(F.lit("w"), F.col("id")).alias("s")) \
        .coalesce(1).write.mode("overwrite").parquet(d)
    f = glob.glob(d + "/*.parquet")[0]
    got = pi.read_table_arrow_native(f, verify_checksums=True)
    assert got.num_rows == 10_000
    off, ln, crc = _first_page_payload_span(f)
    assert crc is not None  # parquet-mr default: crc on
    raw = bytearray(open(f, "rb").read())
    raw[off + 3] ^= 0xFF
    open(f, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC mismatch"):
        pi.read_table_arrow_native(f, verify_checksums=True)


def test_spark_verifies_our_crcs(tmp_path, spark):
    """parquet-mr's checksum verification accepts OUR crc values and
    rejects a corrupted page — the write-side reference differential."""
    t = _table(8_000)
    p = str(tmp_path / "ours.parquet")
    write_parquet(t, p)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.page.verify-checksum.enabled", "true")
    try:
        assert spark.read.parquet(p).count() == 8_000
        off, ln, _ = _first_page_payload_span(p)
        raw = bytearray(open(p, "rb").read())
        raw[off + ln // 3] ^= 0x10
        open(p, "wb").write(bytes(raw))
        spark.catalog.clearCache()
        with pytest.raises(Exception) as ei:
            spark.read.parquet(p).collect()
        assert "CRC" in str(ei.value) or "corrupt" in str(ei.value).lower()
    finally:
        hconf.set("parquet.page.verify-checksum.enabled", "false")


def test_dict_page_crc_verified_in_filtered_fast_path(tmp_path):
    """The page-selective read path decodes the dictionary via
    _decode_dict_at — a corrupted dict page must fail verified reads
    there too, not just in the sequential path (review fix)."""
    t = pa.table({
        "s": pa.array([f"val{i % 20:02d}" for i in range(50_000)]),
        "n": pa.array(range(50_000)),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, data_page_size=8 * 1024, write_page_index=True,
                   write_page_checksum=True)
    # find the dict page of column s and flip one payload byte
    with open(p, "rb") as fh:
        buf = memoryview(fh.read())
    (flen,) = struct.unpack("<I", buf[-8:-4])
    fmd, _ = pi._read_struct(buf, len(buf) - 8 - flen)
    md = fmd[4][0][1][0][3]
    assert md.get(11) is not None  # dict-encoded
    hdr, p2 = pi._read_struct(buf, md[11])
    raw = bytearray(bytes(buf))
    raw[p2 + 2] ^= 0x01
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC mismatch"):
        pi.read_table_arrow_native(p, ["s"], filters=[("n", "<", 3)],
                            verify_checksums=True)
