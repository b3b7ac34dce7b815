"""Distributed encode: DataFrame -> webcodec table (SURVEY.md §3.4 lifecycle).

Spark-first design: Catalyst plans the relational parts; the encode engine is
a leaf. Three modes, all with explicit target partition sizing, lineage rows
(input splits, codec choices, sizes, encode secs -> metrics table) and resume
via committed-partition-id skip (north_rule requirements):

- ``files``  — Spark distributes (file, row-group) splits; workers read
  parquet directly with pyarrow and encode. Zero shuffle, zero JVM->Python
  transfer (the bridge moves ~4 MB/s/core; direct reads run 100x that).
  Bare parquet scans only.
- ``clustered`` — range domain clustering, the one clustering path, for any
  DataFrame: phase A scatters rows into per-bucket Arrow IPC spills on
  shared storage, buckets holding CONTIGUOUS lexicographic domain intervals
  from a sampled histogram (hot domains salt across k adjacent buckets;
  cold domains stay whole); phase B encodes one bucket per task, sorted by
  url — so committed files carry disjoint url ranges and the manifest
  prunes range scans. A bare parquet scan feeds phase A from direct split
  reads (zero JVM transfer); any other DataFrame feeds it from mapInArrow
  (rows cross the bridge once).
- ``scan``   — mapInArrow over scan partitions (no shuffle, any source,
  rows cross the bridge once).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from webcodec.config import EncoderConfig
from webcodec.spark.table import SnapshotTable

LINEAGE_SCHEMA = (
    "partition_id long, file string, rows long, raw_bytes long, encoded_bytes long, "
    "compressed_bytes long, n_pages long, encode_secs double, codec_choices string, "
    "column_stats string, input_files string, attempt string, partition string, "
    "schema_sig string, encrypted boolean"
)


def estimate_partitions(
    df: DataFrame, target_partition_bytes: int, sample_rows: int = 2_000
) -> tuple[int, float, int]:
    """(num_partitions, avg_row_bytes, total_rows); row width from a
    driver-side head sample.

    Row count comes from parquet footer metadata when the source is a file
    scan (no extra job); only non-file sources pay a count() — a full second
    scan at 100 TB just to size partitions would be unacceptable."""
    sample = df.limit(sample_rows).toPandas()
    if len(sample) == 0:
        return 1, 0.0, 0
    avg = float(
        sum(
            sample[c].map(lambda v: len(v) if isinstance(v, (str, bytes)) else 8).sum()
            for c in sample.columns
        )
        / len(sample)
    )
    if _is_pure_scan(df):
        import pyarrow.parquet as pq

        total = sum(pq.ParquetFile(p).metadata.num_rows for p in _input_paths(df))
    else:
        total = df.count()
    n = max(1, int(total * avg / target_partition_bytes + 0.5))
    return n, avg, total


def _lineage_row(pid: int, fname: str, footer: dict, secs: float,
                 attempt: str, input_desc: str | None = None,
                 partition: dict | None = None) -> pa.Table:
    from pyspark import TaskContext

    # single-group footers carry chunks at the top; multi-group (streamed /
    # compacted) footers roll stats up across groups
    groups = footer.get("groups") or [footer]
    choices = {c["name"]: c["encoding"] for c in groups[0]["chunks"]}
    col_stats: dict = {}
    n_pages = 0
    encoded_bytes = 0
    for g in groups:
        for c in g["chunks"]:
            n_pages += len(c["pages"]) + (1 if c.get("dict") else 0)
            encoded_bytes += int(c["encoded_bytes"])
            st = c.get("stats") or {}
            cur = col_stats.setdefault(
                c["name"], {"min": None, "max": None, "null_count": 0}
            )
            if st.get("min") is not None:
                cur["min"] = st["min"] if cur["min"] is None else min(cur["min"], st["min"])
            if st.get("max") is not None:
                cur["max"] = st["max"] if cur["max"] is None else max(cur["max"], st["max"])
            cur["null_count"] += int(st.get("null_count", 0))
    ctx = TaskContext.get()
    inputs = json.dumps(
        {
            "stage": ctx.stageId() if ctx else -1,
            "task": ctx.taskAttemptId() if ctx else -1,
            "input": input_desc or "",
        }
    )
    return pa.table(
        {
            "partition_id": pa.array([pid], pa.int64()),
            "file": pa.array([fname]),
            "rows": pa.array([footer["num_rows"]], pa.int64()),
            "raw_bytes": pa.array([footer["raw_bytes"]], pa.int64()),
            "encoded_bytes": pa.array([encoded_bytes], pa.int64()),
            "compressed_bytes": pa.array([footer["compressed_bytes"]], pa.int64()),
            "n_pages": pa.array([n_pages], pa.int64()),
            "encode_secs": pa.array([secs], pa.float64()),
            "codec_choices": pa.array([json.dumps(choices)]),
            "column_stats": pa.array([json.dumps(col_stats)]),
            "input_files": pa.array([inputs]),
            "attempt": pa.array([attempt]),
            "partition": pa.array(
                [json.dumps(partition, sort_keys=True) if partition else ""]
            ),
            "schema_sig": pa.array([_sig_of(footer)]),
            # manifest flag so maintenance (compact) never needs a footer
            # read to learn a file is encrypted (encrypted files never
            # byte-merge — per-file AAD prefixes)
            "encrypted": pa.array([bool(footer.get("encryption"))], pa.bool_()),
        }
    )


def _sig_of(footer: dict) -> str:
    from webcodec import filefmt

    return filefmt.schema_signature_str(footer)


def _manifest_entry(row) -> dict:
    """The manifest entry of one committed file, built from its lineage row
    (:func:`_lineage_row`, as a collected Spark Row or a dict): the one
    builder every Spark write path commits through. ``schema_sig`` and
    ``encrypted`` are always present, so compaction bin-packs from the
    manifest alone; ``partition`` only when the file holds one tuple."""
    entry = {
        "partition_id": row["partition_id"],
        "path": os.path.join("data", row["file"]),
        "rows": row["rows"],
        "raw_bytes": row["raw_bytes"],
        "compressed_bytes": row["compressed_bytes"],
        "codec_choices": json.loads(row["codec_choices"]),
        "column_stats": json.loads(row["column_stats"]),
        "schema_sig": row["schema_sig"],
        "encrypted": bool(row["encrypted"]),
    }
    if row["partition"]:
        entry["partition"] = json.loads(row["partition"])
    return entry


def _manifest_entries(lineage) -> list[dict]:
    """Manifest entries of a task-side lineage table or batch (None = no
    file written)."""
    return [] if lineage is None else [_manifest_entry(r) for r in lineage.to_pylist()]


def _write_one(data_dir: str, pid: int, table: pa.Table, config: EncoderConfig,
               sort_key: str | None, input_desc: str | None = None,
               partition: dict | None = None) -> pa.Table:
    from webcodec import filefmt  # executor-side import

    if sort_key:
        idx = filefmt.sort_indices_for_key(table, sort_key)
        if idx is not None:
            table = table.take(idx)
    attempt = uuid.uuid4().hex[:12]
    fname = f"part-{pid:05d}-{attempt}.wcd"
    fpath = os.path.join(data_dir, fname)
    t0 = time.perf_counter()
    tmp = fpath + ".tmp"
    footer = filefmt.write_table(table, tmp, config)
    os.rename(tmp, fpath)
    secs = time.perf_counter() - t0
    return _lineage_row(pid, fname, footer, secs, attempt, input_desc, partition)


def _fanout_stream(data_dir: str, base_pid: int, batches, config: EncoderConfig,
                   sort_key: str | None, spec: list[dict],
                   flush_bytes: int = 128 << 20, input_desc: str | None = None):
    """The one Iceberg-style fanout writer (scan partitions, file splits and
    the DataSource writers): route each incoming batch's rows into
    per-tuple buffers and flush a tuple as its own file whenever its buffer
    passes ``flush_bytes`` — peak memory is one open buffer per live tuple,
    never the whole Spark partition (scan mode feeds from shuffles, whose
    partition sizes are unbounded by maxPartitionBytes). A tuple may thus
    emit several files per task; pruning treats them identically. pid =
    FANOUT_FLAG | (base_pid << PID_SHIFT) + file sequence number. Yields
    lineage batches."""
    from webcodec.spark.partition import FANOUT_FLAG, PID_SHIFT, split_by_partition

    buffers: dict[str, dict] = {}
    seq = 0

    def flush(buf) -> pa.Table:
        nonlocal seq
        if seq >= (1 << PID_SHIFT):
            raise ValueError(
                f"partition fanout exceeded 2^{PID_SHIFT} files in one task; "
                "coarsen the partition spec"
            )
        pid = FANOUT_FLAG | ((base_pid << PID_SHIFT) + seq)
        seq += 1
        table = pa.concat_tables(buf["parts"])
        buf["parts"], buf["bytes"] = [], 0
        return _write_one(data_dir, pid, table, config, sort_key,
                          input_desc, partition=buf["values"])

    for batch in batches:
        table = pa.Table.from_batches([batch])
        for values, sub in split_by_partition(table, spec):
            key = json.dumps(values, sort_keys=True, default=str)
            buf = buffers.setdefault(key, {"values": values, "parts": [],
                                           "bytes": 0})
            buf["parts"].append(sub)
            buf["bytes"] += sub.nbytes
            if buf["bytes"] >= flush_bytes:
                yield from flush(buf).to_batches()
    for buf in buffers.values():
        if buf["parts"]:
            yield from flush(buf).to_batches()


def _write_one_batches(data_dir: str, pid: int, batches, config: EncoderConfig,
                       sort_key: str | None, input_desc: str | None = None,
                       group_target_bytes: int = 128 << 20) -> pa.Table | None:
    """Streamed counterpart of :func:`_write_one`: never materializes the
    partition — a new row GROUP is cut every ~group_target_bytes, so a
    skewed partition encodes in bounded memory (sort_key applies per group).
    Returns None for an empty partition."""
    from webcodec import filefmt  # executor-side import

    attempt = uuid.uuid4().hex[:12]
    fname = f"part-{pid:05d}-{attempt}.wcd"
    fpath = os.path.join(data_dir, fname)
    t0 = time.perf_counter()
    tmp = fpath + ".tmp"
    footer = filefmt.write_batches(
        batches, tmp, config, sort_key=sort_key,
        group_target_bytes=group_target_bytes,
    )
    if footer is None:
        try:
            os.remove(tmp)
        except OSError:
            pass
        return None
    os.rename(tmp, fpath)
    secs = time.perf_counter() - t0
    return _lineage_row(pid, fname, footer, secs, attempt, input_desc)


def _make_scan_encode_fn(data_dir: str, config: EncoderConfig, sort_key: str | None,
                         done: frozenset[int], spec: list[dict] | None = None):
    """mapInArrow over scan partitions: NO shuffle — each input split becomes
    one .wcd file (or one per partition tuple when a partition spec is set).
    Partition sizing = spark.sql.files.maxPartitionBytes; the partition id is
    the deterministic scan-split index (resume-safe for the same input
    listing + split size)."""

    def encode_partition(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid in done:
            return  # committed by a previous run (rows scanned, not re-encoded)
        if spec:
            # STREAMED fanout: scan partitions come from arbitrary upstream
            # plans (shuffles), whose sizes maxPartitionBytes does not bound —
            # buffer per tuple and flush at ~128MB, never the whole partition
            yield from _fanout_stream(data_dir, pid, batches, config,
                                      sort_key, spec)
            return
        # streamed: bounded memory even on a skewed partition (group cut
        # every ~128MB raw; sort_key applies per group)
        row = _write_one_batches(data_dir, pid, batches, config, sort_key)
        if row is not None:
            yield from row.to_batches()

    return encode_partition


def plan_file_splits(paths: list[str], target_bytes: int) -> list[dict]:
    """Driver-side split planning: group parquet row groups into splits of
    ~target_bytes UNCOMPRESSED size (explicit target partition sizing,
    north_rule). Deterministic: sorted paths, in-order row groups -> stable
    split ids for resume."""
    import pyarrow.parquet as pq

    splits: list[dict] = []
    for path in sorted(paths):
        md = pq.ParquetFile(path).metadata
        acc: list[int] = []
        acc_bytes = 0
        acc_rows = 0
        for i in range(md.num_row_groups):
            acc.append(i)
            acc_bytes += md.row_group(i).total_byte_size
            acc_rows += md.row_group(i).num_rows
            if acc_bytes >= target_bytes:
                splits.append({"path": path, "row_groups": acc, "num_rows": acc_rows,
                               "num_bytes": acc_bytes})
                acc, acc_bytes, acc_rows = [], 0, 0
        if acc:
            splits.append({"path": path, "row_groups": acc, "num_rows": acc_rows,
                           "num_bytes": acc_bytes})
    for sid, s in enumerate(splits):
        s["split_id"] = sid
    return splits


def _range_tasks(spark: SparkSession, items: list):
    """(range DataFrame, broadcast) pair for descriptor-driven jobs: one
    partition per item, descriptors shipped ONCE per executor via broadcast.
    spark.range is a native relation — no driver-side row serialization, no
    repartition exchange — which cuts the fixed job floor from ~0.75s to
    ~0.25s on this box (it is pure overhead at any scale: a 3-row
    createDataFrame + shuffle just to hand workers their task ids)."""
    bc = spark.sparkContext.broadcast(items)
    return spark.range(0, len(items), 1, len(items)), bc


def _make_file_encode_fn(data_dir: str, config: EncoderConfig, sort_key: str | None,
                         splits_bc, spec: list[dict] | None = None):
    """Splits-in, lineage-out: each worker reads its parquet row groups
    DIRECTLY via pyarrow C++ and encodes — table bytes never cross the JVM.
    (The JVM->Python Arrow bridge moves ~4 MB/s/core; direct pyarrow reads
    run at hundreds of MB/s/core, so this is the scale path.) With a
    partition spec, each split goes through :func:`_fanout_stream`."""

    def encode_split(batches):
        import pyarrow.parquet as pq

        splits = splits_bc.value
        for b in batches:
            for i in b.column("id").to_pylist():
                s = splits[i]
                rgs = s["row_groups"]
                table = pq.ParquetFile(s["path"]).read_row_groups(rgs)
                desc = f"{s['path']}#rg{rgs}"
                if spec:
                    yield from _fanout_stream(
                        data_dir, s["split_id"], table.to_batches(), config,
                        sort_key, spec, input_desc=desc)
                else:
                    yield from _write_one(
                        data_dir, s["split_id"], table, config, sort_key, desc
                    ).to_batches()

    return encode_split


def _domains_of(urls) -> "pa.Array":
    import pyarrow.compute as pc

    no_scheme = pc.replace_substring_regex(
        urls, pattern=r"^[a-zA-Z][a-zA-Z0-9+.-]*://", replacement=""
    )
    return pc.list_element(pc.split_pattern(no_scheme, "/", max_splits=1), 0)


def sample_domain_histogram(
    paths: list[str], url_col: str, min_est_rows: int,
    max_row_groups: int | None = None,
) -> dict[str, int]:
    """HEAD of the domain histogram (estimated rows per domain, domains with
    ``>= min_est_rows``) from a BOUNDED driver-side sample: read the url
    column of up to ``max_row_groups`` evenly-spaced row groups directly via
    pyarrow C++ (threaded) and scale the histogram by the sampled fraction.
    Replaces a whole Spark sampling job (fixed ~1.7s) with a sub-second read
    that stays O(max_row_groups x url-chunk) regardless of table size.

    ``max_row_groups=None`` scales the sample with the table — a quarter of
    the row groups, clamped to [8, 64]: a fixed 8 at 100 TB would be a
    ~0.001% sample that misses hot domains entirely (each missed hot domain
    is a straggler bucket in clustered mode). Zero-row row groups are never
    chosen, so the histogram is non-empty whenever the input has rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rgs: list[tuple[str, int, int]] = []  # (path, rg index, rows)
    total_rows = 0
    for path in sorted(paths):
        md = pq.ParquetFile(path).metadata
        for i in range(md.num_row_groups):
            if md.row_group(i).num_rows:
                rgs.append((path, i, md.row_group(i).num_rows))
                total_rows += md.row_group(i).num_rows
    if not rgs:
        return {}
    if max_row_groups is None:
        max_row_groups = min(64, max(8, len(rgs) // 4))
    step = max(len(rgs) // max_row_groups, 1)
    chosen = rgs[:: step][:max_row_groups]
    sampled_rows = sum(r for _, _, r in chosen)
    parts = []
    for path, i, _ in chosen:
        parts.append(pq.ParquetFile(path).read_row_group(i, columns=[url_col]).column(url_col))
    dom = _domains_of(pa.concat_arrays([c.combine_chunks() for c in parts]))
    vc = pc.value_counts(dom)
    frac = sampled_rows / total_rows
    out: dict[str, int] = {}
    for row in vc.to_pylist():
        est = int(row["counts"] / frac)
        if est >= min_est_rows:
            out[row["values"]] = est
    return out


def spark_domain_histogram(
    df: DataFrame, url_col: str, total_rows: int, sample_rows: int = 1 << 18,
) -> dict[str, int]:
    """Domain histogram (estimated rows per domain) of any DataFrame from a
    seeded Spark sample of its url domains — a JVM-only job, no rows cross
    the Python bridge. The fraction targets ``sample_rows`` of the
    ``total_rows`` the caller already counted, so inputs up to that size are
    read whole (exact histogram) and larger ones get an expected
    ``sample_rows``-row sample. Domains are extracted like
    :func:`_domains_of` does executor-side (strip ``scheme://``, keep up to
    the first ``/``), so hot-domain span keys match the router's."""
    if total_rows <= 0:
        return {}
    frac = min(1.0, sample_rows / total_rows)
    dom = F.substring_index(
        F.regexp_replace(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), "/", 1)
    doms = df.select(dom.alias("d"))
    if frac < 1.0:
        # fixed seed: a resumed run re-plans the same buckets
        doms = doms.sample(fraction=frac, seed=42)
    return {r["d"]: int(r["count"] / frac)
            for r in doms.groupBy("d").count().collect()}


def plan_domain_ranges(
    hist: dict[str, int], n_buckets: int,
) -> tuple[list[str], dict[str, tuple[int, int]]]:
    """RANGE placement of domains over buckets (Iceberg sort-order /
    total-order-partitioner shape): walk the sampled histogram in
    lexicographic domain order, cutting a bucket boundary every
    ``total_est / n_buckets`` rows. Returns ``(cuts, spans)``:

    - ``cuts[b]`` is the first domain of bucket ``b`` — an executor routes
      any domain (sampled or not) with ``bisect_right(cuts, d) - 1``.
      O(n_buckets) strings, broadcast-sized at any table scale.
    - ``spans[d] = (base, k)`` for HOT domains whose estimated mass spans
      more than one bucket: their rows salt by hash(url) across the ``k``
      ADJACENT buckets starting at ``base`` (skew handled, range order
      preserved).

    Cold domains are assigned whole to the bucket holding their range
    MIDPOINT — never split (dedup/prefix locality), never hashed. Hashing
    is what the previous revisions did, and it silently destroyed the
    clustering contract: every bucket held a uniform sample of the domain
    space, so file-level url min/max spanned the whole table and a
    selective scan pruned nothing. Range placement makes file url ranges
    disjoint by construction — the manifest prunes files before any page
    work — while bucket loads stay balanced by the same histogram
    (boundaries equalize estimated rows; a straggler needs adjacent
    midpoints to pile up, bounded by ~1.5x target in the worst case
    instead of the unbounded collisions of independent hashing)."""
    if not hist or n_buckets <= 0:
        return [], {}
    # null urls sample as a None domain — fold into "" (sorts first, same
    # key the executor-side router normalizes to)
    norm: dict[str, int] = {}
    for d, w in hist.items():
        k = d if d is not None else ""
        norm[k] = norm.get(k, 0) + w
    hist = norm
    doms = sorted(hist)
    total = float(sum(hist.values()))
    if total <= 0:
        return [], {}
    target = total / n_buckets
    cuts: list[str] = [""] * n_buckets
    spans: dict[str, tuple[int, int]] = {}
    cum = 0.0
    prev_end = 0  # first bucket not yet fully claimed
    for d in doms:
        w = float(hist[d])
        if w > target:
            # hot: span = the buckets its mass window covers, rows salted
            base = max(min(int(cum // target), n_buckets - 1), prev_end)
            end = min(int((cum + w - 1e-9) // target), n_buckets - 1)
            end = max(end, base)
            for b in range(base, end + 1):
                if not cuts[b] and b > 0:
                    cuts[b] = d
            if end > base:
                spans[d] = (base, end - base + 1)
            prev_end = end
        else:
            # cold: whole domain to its midpoint bucket
            b = min(int((cum + w / 2.0) // target), n_buckets - 1)
            b = max(b, prev_end)
            if not cuts[b] and b > 0:
                cuts[b] = d
            prev_end = b
        cum += w
    # forward-fill buckets that never got a starting domain so `cuts` stays
    # sorted (bisect requirement); duplicates route tail queries to the
    # rightmost duplicate, which is the bucket actually holding that range
    for b in range(1, n_buckets):
        if not cuts[b]:
            cuts[b] = cuts[b - 1]
    return cuts, spans


# a spill cut from a DataFrame partition is id'd (partition << SPILL_SEQ_BITS)
# + sequence number, so a retried task rewrites the same spill names; 2^24
# spills of ~128 MB is 2 PB per Spark partition
SPILL_SEQ_BITS = 24


def _make_spill_fn(shuffle_dir: str, url_col: str,
                   ranges: tuple[list[str], dict[str, tuple[int, int]]],
                   done: frozenset[int], splits_bc=None,
                   spill_compression: str | None = "lz4",
                   flush_bytes: int = 128 << 20):
    """Phase A of the Arrow-native shuffle: scatter rows into per-bucket
    Arrow IPC spill files on shared storage. ``ranges`` (from
    :func:`plan_domain_ranges`) routes each domain by lexicographic RANGE —
    buckets hold contiguous domain intervals, so committed files carry
    disjoint url min/max and the manifest prunes a url-range scan to the few
    files that can match; hot domains salt by hash(url) over their k
    adjacent buckets, cold domains stay whole.

    Two sources feed the same spill body. With ``splits_bc`` the function
    runs over :func:`_range_tasks` ids and each task reads its parquet
    splits directly (zero JVM transfer; spill id = split id). Without it the
    function runs as ``df.mapInArrow`` over any DataFrame and cuts a spill
    every ~``flush_bytes`` of incoming batches (bounded memory, never the
    whole Spark partition), id'd by partition and sequence number."""

    def tables(batches, ctx):
        if splits_bc is not None:
            import pyarrow.parquet as pq

            splits = splits_bc.value
            for b in batches:
                for i in b.column("id").to_pylist():
                    s = splits[i]
                    yield i, pq.ParquetFile(s["path"]).read_row_groups(s["row_groups"])
            return
        base = (ctx.partitionId() if ctx else 0) << SPILL_SEQ_BITS
        seq, buf, nbytes = 0, [], 0
        for b in batches:
            if b.num_rows:
                buf.append(b)
                nbytes += b.nbytes
            if nbytes >= flush_bytes:
                yield base + seq, pa.Table.from_batches(buf)
                seq, buf, nbytes = seq + 1, [], 0
        if buf:
            yield base + seq, pa.Table.from_batches(buf)

    def spill(batches):
        import bisect

        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.ipc as ipc

        from pyspark import TaskContext
        from webcodec.kernels.md5v import md5_u64le_arrow

        ctx = TaskContext.get()  # None only in unit tests
        task = ctx.taskAttemptId() if ctx else 0
        cuts, spans = ranges
        cuts = cuts or [""]  # empty histogram = empty input: one bucket
        for split, table in tables(batches, ctx):
            # null urls route to the ""-domain cold bucket (a null
            # dictionary index would otherwise turn into INT64_MIN on
            # to_numpy and crash the gather below)
            urls = pc.fill_null(table.column(url_col).combine_chunks(), "")
            dom = _domains_of(urls)  # vectorized: strip scheme, take netloc
            # Arrow C++ dictionary encode: per-UNIQUE-domain work only
            if isinstance(dom, pa.ChunkedArray):
                dom = dom.combine_chunks()
            de = dom.dictionary_encode()
            inv = de.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            # RANGE routing (plan_domain_ranges): every domain — sampled or
            # not — lands in the bucket of its lexicographic interval via
            # bisect on the O(n_buckets) cut list (cuts[0] == ""); per-
            # UNIQUE-domain work only. Hot domains pick one of their k
            # ADJACENT span buckets by url hash (md5 kernel: process-stable,
            # python hash() is salted per process), so one url always lands
            # in one bucket (dedup/prefix locality preserved).
            ud = de.dictionary.to_pylist()
            ubase = np.array([bisect.bisect_right(cuts, d) - 1 for d in ud],
                             dtype=np.int64)
            bucket = ubase[inv]
            for ui, d in enumerate(ud):
                sp = spans.get(d)
                if sp is None:
                    continue
                sbase, k = sp
                mask = inv == ui
                pu = urls.filter(pa.array(mask))
                piece = md5_u64le_arrow(pu) % np.uint64(k)
                bucket[mask] = sbase + piece.astype(np.int64)
            # ONE consolidated spill per SPLIT (Spark sort-shuffle file
            # layout): per-bucket IPC stream segments back-to-back in a
            # single .arrow file. Per-(task, bucket) files would be
            # tasks x buckets — ~10^9 files at 100 TB, an inode/DFS-
            # metadata explosion; this is 1 file per split. Files are
            # named by SPLIT id, written via attempt-unique temps and
            # renamed into place: a task retried after a post-write
            # crash — or a speculative duplicate attempt — OVERWRITES
            # with byte-identical content instead of leaving a second
            # discoverable spill that phase B would double-read.
            # Segment locations travel through the SIDE CHANNEL (one
            # metadata row per (split, bucket) segment) and are
            # consolidated into per-BUCKET index shards by a tiny Spark
            # metadata shuffle — phase B never lists the spill dir or
            # opens O(splits) index files (at ~800k splits that would be
            # hundreds of millions of small reads cluster-wide).
            dpath = os.path.join(shuffle_dir, f"s{int(split):07d}.arrow")
            tmp = f"{dpath}.{task}-{uuid.uuid4().hex[:8]}.tmp"  # attempt-unique
            wrote = []
            with open(tmp, "wb") as f:
                for bk in np.unique(bucket):
                    if int(bk) in done:
                        continue
                    sub = table.filter(pa.array(bucket == bk))
                    sink = pa.BufferOutputStream()
                    with ipc.new_stream(
                        sink, sub.schema,
                        # spills are transient: favor compress SPEED over
                        # ratio (lz4 frame ~5x faster than zstd for ~1.2x
                        # the bytes; None = raw)
                        options=ipc.IpcWriteOptions(compression=spill_compression),
                    ) as w:
                        w.write_table(sub)
                    seg = sink.getvalue()
                    wrote.append((int(bk), f.tell(), len(seg), sub.num_rows))
                    f.write(seg)
            if not wrote:
                os.remove(tmp)
                continue
            os.rename(tmp, dpath)
            yield pa.RecordBatch.from_pydict(
                {
                    "bucket": pa.array([b for b, _, _, _ in wrote], pa.int32()),
                    "split": pa.array([int(split)] * len(wrote), pa.int64()),
                    "off": pa.array([o for _, o, _, _ in wrote], pa.int64()),
                    "len": pa.array([ln for _, _, ln, _ in wrote], pa.int64()),
                    "rows": pa.array([r for _, _, _, r in wrote], pa.int64()),
                }
            )

    return spill


SPILL_SEGMENT_SCHEMA = "bucket int, split long, off long, len long, rows long"


def _make_bucket_index_fn(shuffle_dir: str):
    """Consolidate the phase-A segment side channel into ONE index shard per
    BUCKET (b{bucket:05d}.idx, JSON list of [split, off, len]): runs as a
    mapInArrow over the side channel repartitioned by bucket, so the driver
    never materializes the O(splits x buckets) segment map — it only collects
    the O(buckets) (bucket, rows) output. Shards are deterministic (segments
    sorted by split id) and written temp+rename, so a retried/speculative
    task overwrites byte-identical content."""

    def write_indexes(batches):
        import json as _json

        from pyspark import TaskContext

        ctx = TaskContext.get()
        task = ctx.taskAttemptId() if ctx else 0
        segs: dict[int, list[tuple[int, int, int]]] = {}
        rows: dict[int, int] = {}
        for b in batches:
            bk = b.column("bucket").to_numpy(zero_copy_only=False)
            sp = b.column("split").to_numpy(zero_copy_only=False)
            off = b.column("off").to_numpy(zero_copy_only=False)
            ln = b.column("len").to_numpy(zero_copy_only=False)
            nr = b.column("rows").to_numpy(zero_copy_only=False)
            for j in range(len(bk)):
                k = int(bk[j])
                segs.setdefault(k, []).append((int(sp[j]), int(off[j]), int(ln[j])))
                rows[k] = rows.get(k, 0) + int(nr[j])
        for k, lst in segs.items():
            lst.sort()
            path = os.path.join(shuffle_dir, f"b{k:05d}.idx")
            tmp = f"{path}.{task}-{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "w") as f:
                _json.dump(lst, f)
            os.rename(tmp, path)
        if segs:
            ks = sorted(segs)
            yield pa.RecordBatch.from_pydict({
                "bucket": pa.array(ks, pa.int32()),
                "rows": pa.array([rows[k] for k in ks], pa.int64()),
            })

    return write_indexes


def _make_bucket_encode_fn(data_dir: str, shuffle_dir: str, config: EncoderConfig,
                           sort_key: str | None, order_bc):
    """Phase B: one task per bucket — read its spill files, sort, encode."""

    def encode_bucket(batches):
        import json as _json

        import pyarrow.ipc as ipc

        order = order_bc.value
        for b in batches:
            for bk in (order[i] for i in b.column("id").to_pylist()):
                # exactly ONE metadata read per task: this bucket's
                # consolidated index shard (built by the phase-A.5 metadata
                # shuffle) — never an O(splits) listing of the spill dir
                ipath = os.path.join(shuffle_dir, f"b{bk:05d}.idx")
                try:
                    with open(ipath) as f:
                        seglist = _json.load(f)
                except FileNotFoundError:
                    # the side channel said this bucket has rows, so a
                    # missing index is a lost/unreadable spill — fail loud,
                    # never commit a silently-empty bucket
                    raise FileNotFoundError(
                        f"no spill index for bucket {bk} in {shuffle_dir}")
                parts = []
                for split, off, ln in seglist:
                    dpath = os.path.join(shuffle_dir, f"s{int(split):07d}.arrow")
                    with open(dpath, "rb") as f:
                        f.seek(off)
                        buf = f.read(ln)
                    with ipc.open_stream(pa.BufferReader(buf)) as r:
                        parts.append(r.read_all())
                table = pa.concat_tables(parts)
                desc = f"spill:b{bk:05d}({len(parts)} spills)"
                yield from _write_one(data_dir, bk, table, config, sort_key, desc).to_batches()

    return encode_bucket


def _completed_ids(tbl: SnapshotTable, partitioned: bool) -> frozenset[int]:
    """Resume skip-set, aliasing-safe: fanout pids ((split << PID_SHIFT) +
    seq) and plain split ids share the integer domain (fanout split 0 emits
    pids 0..k too), so the skip-set must only consider manifest entries of
    the SAME kind — entries WITH a partition tuple for a partitioned run
    (collapsed to their split id), entries WITHOUT one otherwise."""
    from webcodec.spark.partition import FANOUT_FLAG, PID_SHIFT

    snap = tbl.read_snapshot()
    if not snap:
        return frozenset()
    if partitioned:
        return frozenset(
            (f["partition_id"] & ~FANOUT_FLAG) >> PID_SHIFT
            for f in snap["files"] if f.get("partition") is not None
        )
    return frozenset(
        f["partition_id"] for f in snap["files"] if f.get("partition") is None
    )


def _input_paths(df: DataFrame) -> list[str]:
    return [p.removeprefix("file://") for p in df.inputFiles()]


def _is_pure_scan(df: DataFrame) -> bool:
    """True when ``df`` is a bare parquet file-source relation (safe for
    files mode and clustered split reads: no Spark-side transformation would
    be silently dropped by reading the source files directly)."""
    try:
        paths = _input_paths(df)
        if not paths or not all(p.endswith(".parquet") for p in paths):
            return False
        cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        return "Relation" in cls
    except Exception:  # noqa: BLE001 — connect mode / API drift: be conservative
        return False


def encode_table(
    df: DataFrame,
    table_dir: str,
    config: EncoderConfig | None = None,
    url_col: str | None = None,
    sort_key: str | None = None,
    target_partition_bytes: int = 128 << 20,
    num_partitions: int | None = None,
    resume: bool = True,
    write_metrics: bool = True,
    mode: str | None = None,
    spill_compression: str | None = "lz4",
    partition_by: list[str] | None = None,
    distribution: str | None = None,
) -> dict:
    """Encode ``df`` into a webcodec snapshot table; returns the new snapshot.

    ``partition_by`` declares Iceberg-style hidden partitioning — a list of
    transforms over source columns (``"lang"``, ``"days(ts)"``,
    ``"bucket(16, url)"``, ``"truncate(4, url)"``). Each task FANS OUT into
    one file per partition tuple (no extra shuffle); manifest entries carry
    the tuple and reads prune on it through plain predicates over the SOURCE
    column. Supported with modes ``files`` and ``scan``.

    ``distribution="hash"`` (partitioned writes only; Iceberg
    write.distribution-mode=hash analogue) pre-repartitions by the partition
    expressions so same-tuple rows co-locate and the fanout emits ~1 file
    per tuple instead of tasks x tuples — ONE opt-in shuffle traded against
    file count; forces ``scan`` mode (the shuffle output is not a pure file
    scan). Correctness never depends on the Spark-side expressions — the
    Arrow-side transforms assign the manifest tuples either way.

    ``mode`` (default ``None`` = auto: ``"files"`` when ``df`` is a pure
    parquet scan, else ``"scan"`` — the zero-JVM-transfer path is the default
    because the JVM->Python bridge is the scale bottleneck):
    - ``"files"``: ZERO shuffle, ZERO JVM transfer — Spark distributes only
      (file, row-group) splits sized to target_partition_bytes; each Python
      worker reads its split directly with pyarrow C++ and encodes. This is
      the 100 TB fast path (the JVM->Python bridge caps at ~4 MB/s/core;
      direct reads run at several hundred MB/s/core). Skew is a non-issue:
      splits are uniform bytes by construction. Requires a bare parquet scan
      (raises otherwise: reading the source files would drop the
      DataFrame's transformations).
    - ``"clustered"`` (requires ``url_col``): url-domain clustering, any
      DataFrame. Rows are range-bucketed by domain through an Arrow-native
      two-phase spill on shared storage (hot domains salted over adjacent
      buckets), then each bucket encodes sorted by url — maximum url
      prefix/dict compression and disjoint per-file url ranges. A bare
      parquet scan spills from direct split reads (zero JVM transfer);
      anything else spills from ``df.mapInArrow`` (rows cross the bridge
      once) with the domain histogram from a seeded Spark sample.
    - ``"scan"``: ZERO shuffle but rows still cross the JVM->Python bridge —
      mapInArrow straight over the scan partitions (sizing via
      spark.sql.files.maxPartitionBytes). Use when the input is not parquet
      (e.g. an upstream transformation feeds the encoder). For N small
      files, encode ``df.repartition(N)``.
    """
    if mode not in (None, "files", "clustered", "scan"):
        raise ValueError(
            f"unknown mode {mode!r}: use 'files', 'clustered' or 'scan' "
            "(or None for auto)")
    config = config or EncoderConfig()
    spark = df.sparkSession

    spec: list[dict] | None = None
    if partition_by:
        from webcodec.spark.partition import parse_partition_spec, validate_spec

        spec = parse_partition_spec(partition_by)
        validate_spec(spec, df.columns)

    if distribution is not None:
        if distribution != "hash":
            raise ValueError(f"unknown distribution {distribution!r} (use 'hash')")
        if not spec:
            raise ValueError("distribution='hash' requires partition_by")
        from webcodec.spark.partition import spark_partition_exprs

        n_part = num_partitions or estimate_partitions(df, target_partition_bytes)[0]
        df = df.repartition(n_part, *spark_partition_exprs(spec))
        mode = "scan"  # the shuffle output is no longer a pure file scan

    # files mode (and clustered's split reads) read the source parquet
    # directly, so they are only valid when df is the bare scan (no
    # Project/Filter/... on top)
    pure = mode != "scan" and _is_pure_scan(df)
    if mode is None:
        mode = "files" if pure else "scan"
    if mode == "files" and not pure:
        raise ValueError(
            "mode='files' needs a bare parquet scan: this DataFrame is "
            "transformed or not parquet-backed, and reading its source files "
            "would drop that (use mode='scan' or leave mode unset)")
    if mode == "clustered" and url_col is None:
        raise ValueError("mode='clustered' requires url_col")
    if spec and mode not in ("files", "scan"):
        raise ValueError(
            f"partition_by is supported with modes 'files'/'scan', not {mode!r} "
            "(clustered defines its own url-domain placement)"
        )
    tbl = SnapshotTable(table_dir)
    tbl.init()

    if mode == "files":
        splits = plan_file_splits(_input_paths(df), target_partition_bytes)
        done = _completed_ids(tbl, bool(spec)) if resume else frozenset()
        todo = [s for s in splits if s["split_id"] not in done]
        if not todo:
            return tbl.read_snapshot()
        sdf, bc = _range_tasks(spark, todo)
        fn = _make_file_encode_fn(tbl.data_dir, config, sort_key or url_col, bc, spec)
        rows = sdf.mapInArrow(fn, LINEAGE_SCHEMA).collect()
        return _commit(spark, tbl, table_dir, rows, df, sort_key or url_col,
                       write_metrics, spec)

    if mode == "clustered":
        # Arrow-native two-phase shuffle: phase A scatters rows into
        # per-bucket Arrow IPC spills on shared storage; phase B encodes one
        # bucket per task. At cluster scale the spill dir lives on the DFS
        # (same durability class as Spark's own shuffle files).
        import shutil

        if pure:
            # bytes never cross the JVM: split reads + a driver-side sample
            # of the url column straight from the parquet row groups. FULL
            # sampled histogram (min_est_rows=1): range boundaries need the
            # whole sampled mass, not just the head. Driver memory is
            # bounded by the sample itself (quarter of row groups, clamped
            # [8, 64]); what ships to executors is only O(n_buckets) cuts +
            # hot spans.
            paths = _input_paths(df)
            splits = plan_file_splits(paths, target_partition_bytes)
            total_bytes = sum(s["num_bytes"] for s in splits)
            hist = sample_domain_histogram(paths, url_col, 1)
            sdf, bc = _range_tasks(spark, splits)
        else:
            _, avg_row, total_rows = estimate_partitions(df, target_partition_bytes)
            total_bytes = int(total_rows * avg_row)
            hist = spark_domain_histogram(df, url_col, total_rows)
            sdf, bc = df, None
        if num_partitions is None:
            # bucket count = max(size target, 4x cluster parallelism). The
            # size target (~128MB OUTPUT files, C4 parity) dominates at
            # cluster scale; the parallelism floor matters when the table is
            # small relative to the cluster — more buckets mean finer range
            # intervals (better balance from the sampled boundaries) and
            # enough phase-B tasks for the size-descending launch order to
            # pack the waves evenly; 4x measured best at local[32] (1x->2
            # uneven waves; 8x pays per-segment spill overhead in phase A).
            num_partitions = max(total_bytes // (128 << 20) + 1, 2,
                                 4 * spark.sparkContext.defaultParallelism)
        ranges = plan_domain_ranges(hist, num_partitions)
        done = _completed_ids(tbl, False) if resume else frozenset()
        shuffle_dir = os.path.join(table_dir, "_shuffle")
        # stale spills from a killed run are BOTH a leak (commit-time cleanup
        # never ran) and a duplicate-rows hazard (phase B reads every file in
        # a bucket dir; a rerun re-spills uncommitted buckets). Resume
        # correctness comes from the committed-bucket skip, never from reusing
        # spills — so any leftover here belongs to a dead run: remove it.
        shutil.rmtree(shuffle_dir, ignore_errors=True)
        os.makedirs(shuffle_dir, exist_ok=True)

        spill = _make_spill_fn(shuffle_dir, url_col, ranges, done, bc,
                               spill_compression=spill_compression)
        # the (split, bucket, off, len) segment map is pure metadata but
        # O(splits x touched-buckets) — at 100 TB (~800k splits x thousands
        # of buckets) that is millions of entries, too many for a driver
        # collect. Repartition it by bucket IN SPARK and write one
        # consolidated index shard per bucket (phase B reads exactly its own
        # shard); only the O(buckets) (bucket, rows) totals reach the driver.
        side = sdf.mapInArrow(spill, SPILL_SEGMENT_SCHEMA)
        idx_fn = _make_bucket_index_fn(shuffle_dir)
        # one output row per bucket (a bucket lives wholly in one partition
        # after the repartition), so the collect is O(buckets)
        spill_rows = (
            side.repartition(F.col("bucket"))
            .mapInArrow(idx_fn, "bucket int, rows long").collect()
        )
        sizes: dict[int, int] = {
            int(r["bucket"]): int(r["rows"]) for r in spill_rows
        }
        # exactly ONE bucket per task (hash-repartition of n ids into n
        # partitions leaves ~1/e of slots empty and stacks 2-3 buckets on
        # others), largest bucket first: Spark launches partitions in index
        # order, so descending size = LPT scheduling — the phase-B tail is
        # one small bucket instead of a stack of large ones. Matters most at
        # high parallelism, where phase B runs few waves.
        order = [int(b) for b in sorted(sizes, key=lambda b: (-sizes[b], b))]
        if not order:
            return _commit(spark, tbl, table_dir, [], df, sort_key or url_col,
                           write_metrics)
        bdf, obc = _range_tasks(spark, order)
        enc = _make_bucket_encode_fn(tbl.data_dir, shuffle_dir, config,
                                     sort_key or url_col, obc)
        rows = bdf.mapInArrow(enc, LINEAGE_SCHEMA).collect()
        snap = _commit(spark, tbl, table_dir, rows, df, sort_key or url_col, write_metrics)
        shutil.rmtree(shuffle_dir, ignore_errors=True)
        return snap

    done = _completed_ids(tbl, bool(spec)) if resume else frozenset()
    fn = _make_scan_encode_fn(tbl.data_dir, config, sort_key or url_col, done, spec)
    rows = df.mapInArrow(fn, LINEAGE_SCHEMA).collect()
    return _commit(spark, tbl, table_dir, rows, df, sort_key or url_col,
                   write_metrics, spec)


def _commit(
    spark: SparkSession,
    tbl: SnapshotTable,
    table_dir: str,
    rows: list,
    df: DataFrame,
    sort_key: str | None,
    write_metrics: bool,
    spec: list[dict] | None = None,
) -> dict:
    files = [_manifest_entry(r) for r in rows]
    schema = [{"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable} for f in df.schema.fields]
    props = {"sort_key": sort_key or ""}
    if spec:
        props["partition_spec"] = spec
    snap = tbl.commit(files, schema, properties=props)

    if write_metrics and rows:
        mdir = os.path.join(table_dir, "metrics")
        spark.createDataFrame(rows, LINEAGE_SCHEMA).withColumn(
            "snapshot_id", F.lit(snap["snapshot_id"])
        ).write.mode("append").parquet(mdir)
    return snap
