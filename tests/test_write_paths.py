"""Every Spark write path commits its files through one manifest-entry
builder (``encode_job._manifest_entry`` of the file's lineage row): the
job API in each mode, the DataSource batch and stream writers, upsert,
rewrite_encoded and compaction. Each entry is checked against the file's
own footer, and compaction is checked to plan its bins from the manifest
alone."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig
from webcodec.spark.table import SnapshotTable

pytestmark = pytest.mark.spark

KEY = bytes(range(32))
ENTRY_KEYS = {"partition_id", "path", "rows", "raw_bytes", "compressed_bytes",
              "codec_choices", "column_stats", "schema_sig", "encrypted"}
# merge-on-read bookkeeping an upsert adds to the entries it touches
MOR_KEYS = {"delete_files", "deleted_rows"}


@pytest.fixture(scope="module")
def pages_pq(tmp_path_factory):
    rng = np.random.default_rng(13)
    n = 3_000
    t = pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "url": pa.array([f"https://h{i % 23}.example/p/{i}" for i in range(n)]),
        "lang": pa.array(np.array(["en", "de", "fr"])[rng.integers(0, 3, n)]),
        "score": pa.array(rng.standard_normal(n), pa.float64()),
    })
    d = tmp_path_factory.mktemp("pages_src")
    path = str(d / "pages.parquet")
    pq.write_table(t, path, row_group_size=500)
    return str(d), path, t


def _stats_from_footer(footer: dict) -> dict:
    out: dict = {}
    for g in footer.get("groups") or [footer]:
        for c in g["chunks"]:
            st = c.get("stats") or {}
            cur = out.setdefault(c["name"], {"min": None, "max": None, "null_count": 0})
            for k, pick in (("min", min), ("max", max)):
                if st.get(k) is not None:
                    cur[k] = st[k] if cur[k] is None else pick(cur[k], st[k])
            cur["null_count"] += int(st.get("null_count", 0))
    return out


def _check_entries(table_dir: str, entries: list[dict], key: bytes | None = None,
                   spec: list[dict] | None = None) -> None:
    """Each entry carries exactly the builder's keys (plus ``partition``
    when set, plus merge-on-read keys on an upsert-touched entry) and every
    value equals the one recomputed from the file's own footer."""
    from webcodec.spark.partition import split_by_partition

    assert entries
    for e in entries:
        assert set(e) - {"partition"} - MOR_KEYS == ENTRY_KEYS, e.keys()
        assert ("partition" in e) == bool(spec)
        assert isinstance(e["encrypted"], bool)
        path = os.path.join(table_dir, e["path"])
        footer = filefmt.read_footer_path(path, key)
        groups = footer.get("groups") or [footer]
        assert e["rows"] == footer["num_rows"]
        assert e["raw_bytes"] == footer["raw_bytes"]
        assert e["compressed_bytes"] == footer["compressed_bytes"]
        assert e["codec_choices"] == {c["name"]: c["encoding"] for c in groups[0]["chunks"]}
        assert e["column_stats"] == json.loads(json.dumps(_stats_from_footer(footer)))
        assert e["schema_sig"] == filefmt.schema_signature_str(footer)
        assert e["encrypted"] is bool(footer.get("encryption"))
        if spec:
            parts = split_by_partition(filefmt.read_table(path, encryption_key=key), spec)
            assert [json.loads(json.dumps(v)) for v, _ in parts] == [e["partition"]]


def _spec(partition_by):
    from webcodec.spark.partition import parse_partition_spec

    return parse_partition_spec(partition_by) if partition_by else None


@pytest.mark.parametrize("mode", ["files", "scan", "clustered"])
@pytest.mark.parametrize("partition_by", [None, ["lang"]])
def test_encode_table_entries(spark, pages_pq, tmp_path, mode, partition_by):
    from webcodec.spark.encode_job import encode_table

    _, src, t = pages_pq
    out = str(tmp_path / "t")
    df = spark.read.parquet(src)
    kw = dict(url_col="url", mode=mode, partition_by=partition_by,
              target_partition_bytes=16 << 10, write_metrics=False)
    if mode == "clustered" and partition_by:
        # clustered places rows by url domain; a partition spec is refused
        with pytest.raises(ValueError, match="partition_by"):
            encode_table(df, out, **kw)
        return
    snap = encode_table(df, out, **kw)
    assert sum(f["rows"] for f in snap["files"]) == t.num_rows
    _check_entries(out, snap["files"], spec=_spec(partition_by))


def test_encrypted_scan_entries(spark, pages_pq, tmp_path):
    from webcodec.spark.encode_job import encode_table

    _, src, _ = pages_pq
    out = str(tmp_path / "enc")
    snap = encode_table(spark.read.parquet(src).repartition(2), out, mode="scan",
                        config=EncoderConfig(encryption_key=KEY), write_metrics=False)
    assert all(f["encrypted"] is True for f in snap["files"])
    _check_entries(out, snap["files"], key=KEY)


@pytest.mark.parametrize("partition_by", [None, "lang"])
def test_datasource_writer_entries(spark, pages_pq, tmp_path, partition_by):
    from webcodec.spark.datasource import WebcodecDataSource
    from webcodec.spark.partition import FANOUT_FLAG

    spark.dataSource.register(WebcodecDataSource)
    _, src, t = pages_pq
    out = str(tmp_path / "ds")
    w = spark.read.parquet(src).repartition(3).write.format("webcodec").option("path", out)
    if partition_by:
        w = w.option("partition_by", partition_by)
    w.mode("append").save()
    files = SnapshotTable(out).read_snapshot()["files"]
    assert sum(f["rows"] for f in files) == t.num_rows
    _check_entries(out, files, spec=_spec([partition_by] if partition_by else None))
    # fanout files take the FANOUT_FLAG pid layout under the commit's
    # snapshot namespace; plain files the flat one
    assert all(bool(f["partition_id"] & FANOUT_FLAG) == bool(partition_by)
               for f in files)
    assert len({f["partition_id"] for f in files}) == len(files)


def test_stream_writer_entries(spark, pages_pq, tmp_path):
    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)
    src_dir, src, t = pages_pq
    out = str(tmp_path / "stream")
    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src_dir)
    q = (sdf.writeStream.format("webcodec").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    files = SnapshotTable(out).read_snapshot()["files"]
    assert sum(f["rows"] for f in files) == t.num_rows
    _check_entries(out, files)


def test_maintenance_entries_and_compaction_footer_reads(spark, pages_pq, tmp_path,
                                                         monkeypatch):
    """upsert, rewrite_encoded and compact commit builder entries, and
    compacting N fresh files parses each source footer once, all of them in
    ``append_files`` (the bin-pack reads the manifest only) — again when
    the compacted files are compacted."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import compact, rewrite_encoded, upsert

    _, src, t = pages_pq
    df = spark.read.parquet(src)
    base = str(tmp_path / "base")
    encode_table(df.repartition(6), base, mode="scan", partition_by=["lang"],
                 write_metrics=False)
    rw = str(tmp_path / "rw")
    snap = rewrite_encoded(spark, base, rw, EncoderConfig(compression="lz4"))
    _check_entries(rw, snap["files"], spec=_spec(["lang"]))

    plain = str(tmp_path / "plain")
    encode_table(df.repartition(6), plain, mode="scan", write_metrics=False)
    calls: list[str] = []
    real = filefmt.read_footer_path

    def counted(path, *a, **kw):
        import sys

        calls.append(sys._getframe(1).f_code.co_name)
        return real(path, *a, **kw)

    monkeypatch.setattr(filefmt, "read_footer_path", counted)
    n0 = len(SnapshotTable(plain).read_snapshot()["files"])
    assert n0 == 6
    small = max(f["compressed_bytes"] for f in SnapshotTable(plain).read_snapshot()["files"])
    snap = compact(plain, target_bytes=3 * small)
    n1 = len(snap["files"])
    assert 1 < n1 < n0
    assert calls and set(calls) == {"append_files"} and len(calls) <= n0
    _check_entries(plain, snap["files"])
    calls.clear()
    snap = compact(plain)
    assert len(snap["files"]) == 1
    assert set(calls) == {"append_files"} and len(calls) <= n1
    _check_entries(plain, snap["files"])
    monkeypatch.undo()

    upd = df.limit(50).selectExpr("id", "url", "'xx' AS lang", "score")
    res = upsert(spark, plain, upd, ["id"])
    assert res["inserted_rows"] == 50 and res["superseded_rows"] == 50
    files = SnapshotTable(plain).read_snapshot()["files"]
    assert any(f.get("delete_files") for f in files)
    _check_entries(plain, files)
