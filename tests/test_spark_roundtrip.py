"""End-to-end Spark encode/decode tests (SURVEY.md §5.3 layer 5, milestone M3)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from webcodec.config import EncoderConfig
from webcodec.fixtures import webpages
from webcodec.spark.decode_job import read_encoded, verify_roundtrip
from webcodec.spark.encode_job import encode_table
from webcodec.spark.table import SnapshotTable

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def webpages_parquet(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("src") / "webpages.parquet")
    pq.write_table(webpages(8_000), path)
    return path


def test_encode_decode_roundtrip_webpages(spark, webpages_parquet, tmp_path):
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    snap = encode_table(
        df, out, EncoderConfig(compression="zstd"), url_col="url", num_partitions=4
    )
    assert snap["total_rows"] == 8_000
    assert len(snap["files"]) <= 4
    res = verify_roundtrip(spark, df, out, ["url", "warc_ts"])
    assert res["ok"], res


def test_text_byte_identical_per_url(spark, webpages_parquet, tmp_path):
    """north_star invariant: byte-identical extracted text per url vs the
    reference parquet reader's output."""
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    encode_table(df, out, url_col="url", num_partitions=4)
    ours = read_encoded(spark, out, columns=["url", "warc_ts", "text"])
    ref = spark.read.parquet(webpages_parquet).select("url", "warc_ts", "text")
    joined = ref.alias("r").join(ours.alias("o"), on=["url", "warc_ts"], how="full")
    bad = joined.filter(
        ~(F.col("r.text").eqNullSafe(F.col("o.text")))
    ).count()
    assert bad == 0


def test_size_budget_vs_reference_spark(spark, webpages_parquet, tmp_path):
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    snap = encode_table(df, out, EncoderConfig(compression="zstd"), url_col="url", num_partitions=2)
    import io

    import pyarrow.parquet as pqm

    t = pq.read_table(webpages_parquet)
    buf = io.BytesIO()
    pqm.write_table(t, buf, compression="zstd")
    assert snap["total_compressed_bytes"] <= buf.tell()


def test_projection_and_predicate(spark, webpages_parquet, tmp_path):
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    encode_table(df, out, url_col="url", num_partitions=4)
    sub = read_encoded(spark, out, columns=["lang", "url"], predicate=("lang", "==", "de"))
    assert sub.columns == ["lang", "url"]
    expect = df.filter(F.col("lang") == "de").count()
    assert sub.count() == expect


def test_resume_skips_committed_partitions(spark, webpages_parquet, tmp_path):
    """north_rule: resumable from snapshot checkpoint, no re-encode of
    committed partitions. Clustered mode over a NON-file DataFrame: the
    seeded Spark-side domain sample and the row-count sizing repeat on the
    rerun, so bucket ids are stable and committed buckets are skipped."""
    df = spark.read.parquet(webpages_parquet).where(F.col("url").isNotNull())
    out = str(tmp_path / "wc_table")
    kw = dict(url_col="url", num_partitions=4, mode="clustered", write_metrics=False)
    full = encode_table(df, out, **kw)
    assert len(full["files"]) >= 3
    # simulate a killed run: only the first two buckets had committed
    tbl = SnapshotTable(out)
    kept = full["files"][:2]
    tbl.commit(kept, full["schema"], replace=True)
    for f in full["files"][2:]:
        os.remove(os.path.join(out, f["path"]))
    mtimes = {f["path"]: os.path.getmtime(os.path.join(out, f["path"])) for f in kept}
    # resumed run over the same input
    snap = encode_table(df, out, **kw)
    assert snap["total_rows"] == 8_000
    assert len(snap["files"]) == len(full["files"])
    # committed buckets were NOT re-encoded (same files, untouched)
    assert set(mtimes) <= {f["path"] for f in snap["files"]}
    for p, m in mtimes.items():
        assert os.path.getmtime(os.path.join(out, p)) == m
    res = verify_roundtrip(spark, df, out, ["url"])
    assert res["ok"], res


def test_metrics_table_written(spark, webpages_parquet, tmp_path):
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    encode_table(df, out, url_col="url", num_partitions=3)
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() >= 1
    cols = set(metrics.columns)
    assert {"partition_id", "codec_choices", "encode_secs", "raw_bytes", "snapshot_id"} <= cols


def test_snapshot_layer(tmp_path):
    tbl = SnapshotTable(str(tmp_path / "t"))
    tbl.init()
    s1 = tbl.commit(
        [{"partition_id": 0, "path": "data/a", "rows": 10, "raw_bytes": 100, "compressed_bytes": 50, "column_stats": {"x": {"min": 1, "max": 5}}}],
        [{"name": "x", "type": "bigint", "nullable": True}],
    )
    assert s1["snapshot_id"] == 1
    s2 = tbl.commit(
        [{"partition_id": 1, "path": "data/b", "rows": 5, "raw_bytes": 60, "compressed_bytes": 30, "column_stats": {"x": {"min": 10, "max": 20}}}],
        [{"name": "x", "type": "bigint", "nullable": True}],
    )
    assert s2["snapshot_id"] == 2 and len(s2["files"]) == 2
    assert tbl.completed_partition_ids() == {0, 1}
    pruned = tbl.data_files(predicate=("x", ">", 7))
    assert [f["path"] for f in pruned] == ["data/b"]


def test_time_travel_read(spark, webpages_parquet, tmp_path):
    """Snapshots are immutable: reading with snapshot_id returns the table
    exactly as of that commit (Iceberg-style time travel)."""
    df = spark.read.parquet(webpages_parquet)
    out = str(tmp_path / "wc_table")
    first = df.limit(3_000)
    encode_table(first, out, url_col="url", num_partitions=2, mode="clustered",
                 resume=False, write_metrics=False)
    tbl = SnapshotTable(out)
    s1 = tbl.current_snapshot_id()
    encode_table(df, out, url_col="url", num_partitions=4, mode="clustered",
                 resume=False, write_metrics=False)
    s2 = tbl.current_snapshot_id()
    assert s2 > s1
    old = read_encoded(spark, out, snapshot_id=s1)
    new = read_encoded(spark, out)
    assert old.count() < new.count() == 8_000
    # the old snapshot is byte-stable: same rows as the first commit
    assert old.count() == sum(f["rows"] for f in tbl.read_snapshot(s1)["files"])


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: files written before a column existed
    decode it as NULL; predicates on the new column treat old files as
    all-null (prune everything except isnull)."""
    import pyarrow as pa

    out = str(tmp_path / "t")
    t1 = pa.table({"url": [f"u{i}" for i in range(100)],
                   "n": pa.array(list(range(100)), pa.int64())})
    src1 = str(tmp_path / "v1.parquet")
    pq.write_table(t1, src1)
    encode_table(spark.read.parquet(src1).repartition(1), out, resume=False,
                 write_metrics=False)
    t2 = pa.table({"url": [f"v{i}" for i in range(50)],
                   "n": pa.array(list(range(100, 150)), pa.int64()),
                   "lang": ["en"] * 50})
    src2 = str(tmp_path / "v2.parquet")
    pq.write_table(t2, src2)
    # append via the DataSource writer (namespaced partition ids -> true
    # append; the job API's stable pids are a resume feature, not append)
    from webcodec.spark.datasource import WebcodecDataSource

    spark.dataSource.register(WebcodecDataSource)
    spark.read.parquet(src2).write.format("webcodec").mode("append").option(
        "path", out
    ).save()

    full = read_encoded(spark, out)
    assert full.count() == 150
    assert set(full.columns) == {"url", "n", "lang"}
    assert full.filter(F.col("lang").isNull()).count() == 100
    # predicate on the evolved column: old files prune to nothing
    en = read_encoded(spark, out, predicate=("lang", "==", "en"))
    assert en.filter(F.col("lang") == "en").count() == 50
    nulls = read_encoded(spark, out, predicate=("lang", "isnull", None))
    assert nulls.filter(F.col("lang").isNull()).count() == 100


def test_generic_list_columns_e2e(spark, tmp_path):
    """Generic list<primitive> columns survive the full Spark encode->decode
    path (lengths FOR+delta + child validity + child fallback encoding)."""
    import pyarrow as pa

    t = pa.table({
        "k": pa.array(list(range(500)), pa.int64()),
        "tags": pa.array(
            [None if i % 13 == 0 else [f"t{j}" for j in range(i % 4)] for i in range(500)],
            pa.list_(pa.string()),
        ),
        "nums": pa.array(
            [[i, None, i * 2][: i % 4] for i in range(500)], pa.list_(pa.int64())
        ),
    })
    src = str(tmp_path / "lists.parquet")
    pq.write_table(t, src)
    df = spark.read.parquet(src)
    out = str(tmp_path / "t")
    encode_table(df, out, sort_key="k", write_metrics=False)
    back = read_encoded(spark, out)
    assert back.count() == 500
    assert df.exceptAll(back).count() == 0
    assert back.exceptAll(df).count() == 0


def test_nested_columns_files_mode_e2e(spark, tmp_path):
    """The scale-default files mode (direct pyarrow split reads) encodes
    parquet with struct + array columns and round-trips them exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    n = 600
    t = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "meta": pa.array(
            [None if i % 9 == 4 else {"l": f"l{i % 5}", "n": i} for i in range(n)],
            pa.struct([pa.field("l", pa.string()), pa.field("n", pa.int64())]),
        ),
        "words": pa.array(
            [[f"w{j}" for j in range(i % 4)] for i in range(n)],
            pa.list_(pa.string()),
        ),
    })
    src = str(tmp_path / "src.parquet")
    pq.write_table(t, src)
    out = str(tmp_path / "t")
    encode_table(spark.read.parquet(src), out, sort_key="doc_id",
                 write_metrics=False, mode="files")
    back = read_encoded(spark, out)
    sdf = spark.read.parquet(src)
    assert back.count() == n
    assert sdf.exceptAll(back).count() == 0
    assert back.exceptAll(sdf).count() == 0
