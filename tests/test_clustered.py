"""Clustered-mode encode: Arrow-native two-phase shuffle (salted domain
clustering with zero JVM transfer)."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from webcodec.fixtures import webpages
from webcodec.spark.table import SnapshotTable

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csrc") / "webpages.parquet")
    pq.write_table(webpages(8_000), path, row_group_size=1_000)
    return path


def test_clustered_roundtrip(spark, src, tmp_path):
    from webcodec.spark.decode_job import verify_roundtrip
    from webcodec.spark.encode_job import encode_table

    df = spark.read.parquet(src)
    out = str(tmp_path / "t")
    snap = encode_table(
        df, out, url_col="url", mode="clustered",
        target_partition_bytes=1 << 21, write_metrics=False,
    )
    assert snap["total_rows"] == 8_000
    assert len(snap["files"]) > 1
    assert not os.path.exists(os.path.join(out, "_shuffle"))  # spills cleaned
    res = verify_roundtrip(spark, df, out, ["url"])
    assert res["ok"], res


def test_clustered_domains_cluster_and_hot_split(spark, src, tmp_path):
    """Cold domains land in exactly ONE file; the Zipf head domain (site0000,
    ~25% of rows) is salted across multiple buckets."""
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    df = spark.read.parquet(src)
    out = str(tmp_path / "t")
    encode_table(
        df, out, url_col="url", mode="clustered",
        target_partition_bytes=1 << 21, num_partitions=8, write_metrics=False,
    )
    from pyspark.sql import functions as F

    dec = read_encoded(spark, out)
    # file identity via the spark input partition is not exposed; use the
    # manifest: count per-file url-domain spread by decoding file by file
    tbl = SnapshotTable(out)
    files = tbl.data_files()
    from webcodec import filefmt

    domain_files: dict[str, set[int]] = {}
    hot_rows = 0
    for f in files:
        t = filefmt.read_table(os.path.join(out, f["path"]), columns=["url"])
        import pyarrow.compute as pc

        doms = set(
            u.split("://")[1].split("/")[0] for u in t.column("url").to_pylist()
        )
        for d in doms:
            domain_files.setdefault(d, set()).add(f["partition_id"])
    # multi-file domains must be exactly the Zipf head(s) the sampler marked
    # hot — fixtures name domains site{rank:03d}.*, so rank is parseable
    def rank(d: str) -> int:
        return int(d.split(".")[0].removeprefix("site"))

    multi = sorted(d for d, s in domain_files.items() if len(s) > 1)
    assert multi, "expected at least the Zipf head to be salted"
    assert all(rank(d) < 8 for d in multi), multi  # only heads split
    # the Zipf head is split across several buckets (skew handled)
    assert len(domain_files.get("site000.com", set())) >= 2


def test_clustered_resume(spark, src, tmp_path):
    from webcodec.spark.encode_job import encode_table

    df = spark.read.parquet(src)
    out = str(tmp_path / "t")
    s1 = encode_table(df, out, url_col="url", mode="clustered",
                      target_partition_bytes=1 << 21, write_metrics=False)
    mtimes = {
        f["path"]: os.path.getmtime(os.path.join(out, f["path"])) for f in s1["files"]
    }
    s2 = encode_table(df, out, url_col="url", mode="clustered",
                      target_partition_bytes=1 << 21, write_metrics=False)
    assert {f["path"] for f in s2["files"]} == set(mtimes)
    for p, m in mtimes.items():
        assert os.path.getmtime(os.path.join(out, p)) == m  # nothing re-encoded


def test_spill_retry_overwrites_idempotently(spark, tmp_path):
    """A task retried after a post-write crash (or a speculative duplicate)
    must OVERWRITE its spills, not add second ones phase B would
    double-read: spills are named by split id (file source) or by partition
    id + sequence number (DataFrame source) and renamed into place from
    attempt-unique temps. Simulated by running the spill closure twice over
    the same input ("two attempts") for both phase-A sources."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from webcodec.fixtures import webpages
    from webcodec.spark.encode_job import (
        _make_spill_fn, plan_domain_ranges, plan_file_splits,
        sample_domain_histogram)

    src = str(tmp_path / "s.parquet")
    pq.write_table(webpages(2_000), src)
    splits = plan_file_splits([src], 1 << 20)
    ranges = plan_domain_ranges(sample_domain_histogram([src], "url", 1), 7)
    batches = pq.read_table(src).to_batches(max_chunksize=32)

    class _BC:  # stand-in for the Spark broadcast
        value = splits

    # side-channel segment rows (bucket, split, off, len, rows) identical
    # across attempts — the per-bucket index shards built from them are
    # therefore deterministic too
    def flat(rows):
        return sorted(
            tuple(int(rb.column(c)[j].as_py())
                  for c in ("bucket", "split", "off", "len", "rows"))
            for rb in rows
            for j in range(rb.num_rows)
        )

    id_batch = pa.RecordBatch.from_pydict({"id": pa.array([0], pa.int64())})
    sources = {
        # file source: split 0 read directly -> exactly one spill
        "files": (dict(splits_bc=_BC()), [id_batch]),
        # DataFrame source: a spill cut every ~256 KiB of incoming batches
        "dataframe": (dict(flush_bytes=256 << 10), batches),
    }
    for name, (kw, feed) in sources.items():
        shuffle_dir = str(tmp_path / f"shuf_{name}")
        os.makedirs(shuffle_dir)
        fn = _make_spill_fn(shuffle_dir, "url", ranges, frozenset(), **kw)
        rows1 = list(fn(iter(feed)))
        rows2 = list(fn(iter(feed)))  # the "retry"
        arrow_files = [f for f in os.listdir(shuffle_dir) if f.endswith(".arrow")]
        # overwrote, not doubled: one file per distinct spill id
        assert len(arrow_files) == len({t[1] for t in flat(rows1)}), name
        if name == "files":
            assert len(arrow_files) == 1
        else:  # several batches per spill, several spills per partition
            assert 1 < len(arrow_files) < len(batches)
        assert not [f for f in os.listdir(shuffle_dir) if ".tmp" in f]
        assert flat(rows1) == flat(rows2), name
        assert sum(t[4] for t in flat(rows1)) == 2_000
        assert len({t[0] for t in flat(rows1)}) > 1  # real ranges: >1 bucket


@pytest.mark.parametrize("mode", ["salted", "cluster", "FILES"])
def test_unknown_mode_raises_before_init(spark, src, tmp_path, mode):
    """A retired or misspelt mode raises, naming the valid modes, before any
    table directory is created."""
    from webcodec.spark.encode_job import encode_table

    out = str(tmp_path / "t")
    with pytest.raises(ValueError, match="'files', 'clustered' or 'scan'"):
        encode_table(spark.read.parquet(src), out, url_col="url", mode=mode)
    assert not os.path.exists(out)


@pytest.mark.parametrize("kind", ["filter", "json"])
def test_transformed_input_files_raises_clustered_exact(spark, src, tmp_path, kind):
    """files mode reads the source parquet directly, so on a filtered
    DataFrame (or a bare scan of non-parquet files) it must raise instead of
    committing the wrong rows; clustered spills the DataFrame itself and
    commits exactly its rows."""
    from pyspark.sql import functions as F

    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import encode_table

    df = spark.read.parquet(src).filter(F.col("lang") == "en")
    if kind == "json":
        df.select("url", "lang", "text").write.json(str(tmp_path / "json"))
        df = spark.read.json(str(tmp_path / "json"))
    n = df.count()
    assert 0 < n < 8_000
    bad = str(tmp_path / "files")
    with pytest.raises(ValueError, match="bare parquet scan"):
        encode_table(df, bad, url_col="url", mode="files")
    assert not os.path.exists(bad)

    out = str(tmp_path / "clustered")
    snap = encode_table(df, out, url_col="url", mode="clustered",
                        num_partitions=4, write_metrics=False)
    assert snap["total_rows"] == n
    back = read_encoded(spark, out).select(*df.columns)
    assert df.exceptAll(back).count() == 0
    assert back.exceptAll(df).count() == 0


def test_domain_histogram_skips_empty_row_groups(tmp_path):
    """The evenly-spaced sample stride only chooses row groups with rows: a
    file whose strided row groups are all empty still yields its domains."""
    import pyarrow as pa

    from webcodec.spark.encode_job import sample_domain_histogram

    path = str(tmp_path / "sparse.parquet")
    empty = pa.table({"url": pa.array([], pa.string())})
    w = pq.ParquetWriter(path, empty.schema)
    for g in range(32):
        w.write_table(pa.table({"url": ["https://a.example/x"] * 10})
                      if g == 1 else empty)
    w.close()
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 32 and md.num_rows == 10
    assert sample_domain_histogram([path], "url", 1) == {"a.example": 10}


def _zipf_urls(seed: int, n: int) -> list[tuple[int, str]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    p = np.arange(1, 61, dtype=np.float64) ** -1.2
    dom = rng.choice(60, size=n, p=p / p.sum())
    # fixed-width names under one scheme: domain order == url order
    return [(i, f"https://d{d:03d}.example/p{rng.integers(0, 10**6):06d}")
            for i, d in enumerate(dom)]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_clustered_non_file_input_properties(spark, tmp_path, seed):
    """Clustered over a non-file DataFrame (Zipf domain mix): the committed
    row multiset equals the input's; every cold domain lands in exactly one
    file and a hot domain in at most its span's k files; and file url
    ranges do not overlap, except between files sharing a hot domain."""
    from webcodec import filefmt
    from webcodec.spark.decode_job import read_encoded
    from webcodec.spark.encode_job import (
        encode_table, plan_domain_ranges, spark_domain_histogram)

    rows = _zipf_urls(seed, 3_000)
    df = spark.createDataFrame(rows, "id long, url string").where("id % 7 != 3")
    n = df.count()
    out = str(tmp_path / "t")
    snap = encode_table(df, out, url_col="url", mode="clustered",
                        num_partitions=8, write_metrics=False)
    assert snap["total_rows"] == n
    back = read_encoded(spark, out)
    assert df.exceptAll(back).count() == 0 and back.exceptAll(df).count() == 0

    # the same seeded sample the encode planned from (small input: read whole)
    _, spans = plan_domain_ranges(spark_domain_histogram(df, "url", n), 8)
    assert spans, "the Zipf head should span several buckets"
    files = SnapshotTable(out).data_files()
    doms_of: list[set[str]] = []
    where: dict[str, set[int]] = {}
    for f in files:
        urls = filefmt.read_table(os.path.join(out, f["path"]),
                                  columns=["url"]).column("url").to_pylist()
        doms = {u.split("/")[2] for u in urls}
        doms_of.append(doms)
        for d in doms:
            where.setdefault(d, set()).add(f["partition_id"])
    for d, fs in where.items():
        if d in spans:
            assert len(fs) <= spans[d][1], (d, fs, spans[d])
        else:
            assert len(fs) == 1, (d, fs)
    ranges = sorted(
        (f["column_stats"]["url"]["min"], f["column_stats"]["url"]["max"], i)
        for i, f in enumerate(files))
    for (_, hi, i), (lo, _, j) in zip(ranges, ranges[1:]):
        if hi >= lo:  # overlap only through a shared, salted hot domain
            assert doms_of[i] & doms_of[j] & set(spans), (hi, lo)


def test_spark_domain_histogram_exact_when_small_scaled_when_sampled(spark):
    """Inputs up to ``sample_rows`` are counted whole; larger ones are
    sampled with a seeded fraction and scaled back to estimated rows."""
    from webcodec.spark.encode_job import spark_domain_histogram

    n = 20_000
    rows = [(f"https://{'hot' if i % 2 else f'c{i % 40:02d}'}.example/{i}",)
            for i in range(n)]
    df = spark.createDataFrame(rows, "url string")
    exact = spark_domain_histogram(df, "url", n)
    assert exact["hot.example"] == n // 2 and sum(exact.values()) == n
    sampled = spark_domain_histogram(df, "url", n, sample_rows=2_000)
    assert sampled == spark_domain_histogram(df, "url", n, sample_rows=2_000)
    assert abs(sampled["hot.example"] - n // 2) < 0.15 * n // 2
    assert abs(sum(sampled.values()) - n) < 0.1 * n
