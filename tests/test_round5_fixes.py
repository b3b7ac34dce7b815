"""Round-5 review fixes (ADVICE.md r4 + VERDICT r4 'what's wrong'):

1. the algorithm tag is now AES_GCM_V2 (naming the r4 full-header AAD
   layout), and — since the last V1-labeled writer already produced that
   layout — V1-labeled files STAY readable; GCM failures on V1 files add a
   format-version hint on top of the generic wrong-key/tampered message;
2. rewrite_encoded mask_columns never reads/decodes the masked columns —
   a PII takedown of a large blob column pays zero decode for the data it
   destroys (probed via a corrupted masked-column page: the rewrite must
   succeed because those pages are never touched);
3. _month_bounds_us clamps at the datetime64[us] representable range —
   months far past year 294k yield the conservative full-int64 interval
   (keep the file) instead of a wrapped/inverted one (silent mis-prune);
4. clustered-mode phase B reads exactly ONE per-bucket index shard (built
   by the phase-A.5 metadata shuffle) — never an O(splits) listing;
5. range domain placement (plan_domain_ranges) keeps bucket loads balanced
   AND gives buckets contiguous lexicographic domain intervals — committed
   files carry disjoint url ranges, so the manifest prunes url-range scans
   (independent hashing balanced but spanned every file across the whole
   url space, defeating file-level pruning).

(The corrupt-BMP/PPM passthrough fix is tested in test_media.py; the
media_features real-decoder wiring in test_media.py too.)
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from webcodec import filefmt
from webcodec.config import EncoderConfig
from webcodec.fixtures import webpages

KEY = bytes(range(32))


def test_legacy_v1_label_still_reads(tmp_path, monkeypatch):
    """The V1->V2 algorithm bump was a LABEL correction: the last V1-labeled
    writer already produced the V2 AAD layout, so a V1-labeled file written
    under the current layout MUST stay readable (no re-encode dead end).
    Unknown algorithms are still rejected; a V1 file whose pages fail their
    GCM check gets a format-version hint on top of the generic message."""
    from webcodec import crypto

    p = str(tmp_path / "t.wcd")
    # simulate the immediately-prior writer revision: identical layout,
    # old label stamped into the (signed) footer
    monkeypatch.setattr(crypto, "ALGORITHM", "AES_GCM_V1")
    filefmt.write_table(webpages(50), p, EncoderConfig(encryption_key=KEY))
    monkeypatch.undo()
    assert crypto.ALGORITHM == "AES_GCM_V2"

    footer = filefmt.read_footer_path(p, encryption_key=KEY)
    assert footer["encryption"]["algorithm"] == "AES_GCM_V1"
    back = filefmt.read_table(p, encryption_key=KEY)
    assert back.num_rows == 50
    assert back.column("url").to_pylist() == webpages(50).column("url").to_pylist()

    with pytest.raises(ValueError, match="unsupported encryption algorithm"):
        crypto.reader_context(
            dict(footer, encryption=dict(footer["encryption"],
                                         algorithm="AES_GCM_V9")), KEY)

    # a V1-labeled context whose page GCM fails names the possible
    # pre-V2-layout cause in the error (on-disk flips are caught earlier by
    # the page CRC, so probe the decrypt layer directly)
    ctx = crypto.reader_context(footer, KEY)
    assert ctx.legacy_label
    with pytest.raises(ValueError, match="AES_GCM_V1"):
        ctx.decrypt_page(ctx.aad_base("url"), 0, 0, 1, b"\x00" * 40)
    ctx_v2 = crypto.FileCrypto(b"k" * 32, b"p" * 8)
    with pytest.raises(ValueError) as ei:
        ctx_v2.decrypt_page(ctx_v2.aad_base("url"), 0, 0, 1, b"\x00" * 40)
    assert "AES_GCM_V1" not in str(ei.value)


def test_mask_columns_never_decode_masked_pages(spark, tmp_path):
    """The masked column's pages are physically corrupted on disk; the
    rewrite must still succeed — proof the mask path never reads, let alone
    decodes, the column it destroys."""
    from webcodec.spark.encode_job import encode_table
    from webcodec.spark.maintenance import rewrite_encoded
    from webcodec.spark.table import SnapshotTable

    src = str(tmp_path / "src.parquet")
    pq.write_table(webpages(300), src)
    tdir = str(tmp_path / "t")
    encode_table(spark.read.parquet(src), tdir, write_metrics=False)
    snap = SnapshotTable(tdir).read_snapshot()
    # corrupt every page of the html chunk in every file
    for f in snap["files"]:
        path = os.path.join(tdir, f["path"])
        footer = filefmt.read_footer_path(path)
        groups = footer.get("groups") or [footer]
        with open(path, "r+b") as fh:
            for g in groups:
                for c in g["chunks"]:
                    if c["name"] != "html":
                        continue
                    for pg in c["pages"]:
                        fh.seek(pg["offset"])
                        fh.write(b"\xde\xad" * 8)
    # sanity: a normal read of html now fails (the corruption is real)
    with pytest.raises(Exception):
        filefmt.read_table(os.path.join(tdir, snap["files"][0]["path"]),
                           columns=["html"])
    dst = str(tmp_path / "masked")
    rewrite_encoded(spark, tdir, dst, mask_columns=["html"])
    back = filefmt.read_table(
        os.path.join(dst, SnapshotTable(dst).read_snapshot()["files"][0]["path"]))
    assert back.column("html").null_count == back.num_rows  # nullified
    assert back.column("url").null_count == 0  # others intact


def test_month_bounds_overflow_clamps_conservative():
    from webcodec.spark.partition import _month_bounds_us

    lo, hi = _month_bounds_us(0)
    assert lo == 0 and hi > 0
    # normal far-future month still exact
    lo1, hi1 = _month_bounds_us(12 * 8030)  # year 10000
    assert lo1 < hi1
    # beyond the datetime64[us] range: conservative full-int64 interval,
    # NEVER inverted (the old cast wrapped and could mis-prune)
    for m in (10**7, -(10**7), 2**40, -(2**40)):
        lo2, hi2 = _month_bounds_us(m)
        assert lo2 < hi2
        assert lo2 <= lo1 and hi2 >= hi1  # contains every real interval


def test_phase_b_reads_single_bucket_index_shard(spark, tmp_path):
    """Clustered encode writes one b{bucket}.idx shard per bucket; phase B
    fails loud when the shard is missing and never lists the spill dir."""
    import pyarrow.ipc as ipc

    from webcodec.spark.encode_job import (
        _make_bucket_encode_fn, _make_bucket_index_fn, _make_spill_fn,
        plan_domain_ranges, plan_file_splits, sample_domain_histogram)

    src = str(tmp_path / "s.parquet")
    pq.write_table(webpages(2_000), src)
    splits = plan_file_splits([src], 1 << 20)
    shuffle_dir = str(tmp_path / "shuf")
    os.makedirs(shuffle_dir)

    class _BC:
        def __init__(self, v):
            self.value = v

    ranges = plan_domain_ranges(sample_domain_histogram([src], "url", 1), 5)
    spill = _make_spill_fn(shuffle_dir, "url", ranges, frozenset(), _BC(splits))
    seg_rows = []
    for i in range(len(splits)):
        batch = pa.RecordBatch.from_pydict({"id": pa.array([i], pa.int64())})
        seg_rows.extend(spill(iter([batch])))
    # consolidate via the index fn (simulating the repartition-by-bucket)
    idx_fn = _make_bucket_index_fn(shuffle_dir)
    out = list(idx_fn(iter(seg_rows)))
    buckets = sorted(b for rb in out for b in rb.column("bucket").to_pylist())
    shards = sorted(int(f[1:6]) for f in os.listdir(shuffle_dir)
                    if f.endswith(".idx"))
    assert shards == buckets and len(shards) >= 2
    # shard content: [split, off, len] triples sorted by split
    with open(os.path.join(shuffle_dir, f"b{shards[0]:05d}.idx")) as f:
        segs = json.load(f)
    assert all(len(s) == 3 for s in segs)
    assert segs == sorted(segs)
    # phase B on a bucket with a MISSING shard fails loud
    enc = _make_bucket_encode_fn(str(tmp_path / "data"), shuffle_dir,
                                 EncoderConfig(), "url", _BC([99_999]))
    os.makedirs(str(tmp_path / "data"), exist_ok=True)
    with pytest.raises(FileNotFoundError, match="no spill index"):
        list(enc(iter([pa.RecordBatch.from_pydict(
            {"id": pa.array([0], pa.int64())})])))


def test_range_placement_balances_and_orders_domains():
    """plan_domain_ranges: buckets hold contiguous lexicographic domain
    intervals (disjoint url ranges per file -> manifest range pruning), cold
    domains stay whole, the hot domain spans k adjacent buckets, and
    projected loads stay near the mean (no collision stragglers)."""
    from webcodec.spark.encode_job import plan_domain_ranges

    hist = {f"cold{i:02d}.example": 9_000 for i in range(12)}
    hist["hot.example"] = 35_000  # ~2x the 17.9k bucket target at B=8
    cuts, spans = plan_domain_ranges(hist, 8)
    assert len(cuts) == 8 and cuts[0] == ""
    assert cuts == sorted(cuts)  # bisect-routable: monotone boundaries
    # hot domain spans >1 ADJACENT buckets; cold domains get no span
    base, k = spans["hot.example"]
    assert k >= 2 and base + k <= 8
    assert set(spans) == {"hot.example"}
    # project loads: cold -> bisect bucket, hot -> mass spread over its span
    import bisect

    loads = np.zeros(8)
    for d, w in hist.items():
        if d in spans:
            b0, kk = spans[d]
            loads[b0 : b0 + kk] += w / kk
        else:
            loads[bisect.bisect_right(cuts, d) - 1] += w
    assert loads.max() <= loads.mean() * 1.6, loads
    # lexicographic order: every cold domain's bucket is non-decreasing
    bks = [bisect.bisect_right(cuts, d) - 1 for d in sorted(hist) if d not in spans]
    assert bks == sorted(bks)
    # an UNSAMPLED tail domain routes between its lexicographic neighbors
    t = bisect.bisect_right(cuts, "cold055.example") - 1
    lo = bisect.bisect_right(cuts, "cold05.example") - 1
    hi = bisect.bisect_right(cuts, "cold06.example") - 1
    assert lo <= t <= hi
    # determinism
    assert (cuts, spans) == plan_domain_ranges(hist, 8)
